"""Process-wide memo for intermediates shared across driver queries.

The driver's correctness sweep calls every ``__spark_entry__.queries()`` entry
in one process against one sf_dir. Several entries share an expensive
intermediate (the MinHash candidate pairs + connected components are used by
three queries; the k=16 IVF build by four). Rebuilding those per query is pure
waste — at sweep time AND at 100 TB, where an index/components table is built
once and served to many consumers. This memo is that "built once" contract in
miniature: keyed by (builder name, sf_dir, params), holding cached DataFrames,
index objects, trained codebooks or staged paths for the life of the process.

It is the ONLY such memo in the package, so ``clear`` is the one switch that
makes the next query run cold (bench.py calls it between timed lines).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

_CACHE: dict[tuple, object] = {}


def memo(key: tuple, build: Callable[[], T], fresh: Callable[[T], bool] | None = None) -> T:
    """``build()`` once per ``key`` (by convention ``(builder_name, *params)``,
    so two builders never share a key shape). ``fresh``, when given, is asked
    about a memoized value before it is returned; a stale value is rebuilt
    (a staged file someone deleted). Not synchronized: the query functions
    that call it run on the driver's main thread."""
    if key not in _CACHE or (fresh is not None and not fresh(_CACHE[key])):  # type: ignore[arg-type]
        _CACHE[key] = build()
    return _CACHE[key]  # type: ignore[return-value]


def clear() -> None:
    """Forget every memoized build. Cached DataFrames are not unpersisted
    here; callers that want the memory back clear the catalog too."""
    _CACHE.clear()
