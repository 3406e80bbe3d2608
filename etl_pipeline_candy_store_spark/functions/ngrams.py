"""N-grams and neighbour pairs over a token array column.

One rule builds every gram the engine forms from a token array: zip
shifted slices of it, so element ``i`` of the result holds
``t[i + o]`` for each offset ``o``.

Why the engine never writes ``t[i + k]`` inside a lambda: when Spark's
optimizer collapses projections or pushes a filter through one, it
substitutes the projected expression for each reference. An array
built once per row (``split(text, ' ')``) and then indexed inside
``transform(sequence(...), i -> toks[i + 1])`` becomes
``split(text, ' ')[i + 1]`` inside the lambda, so every element
re-splits the whole text: O(tokens²) per document. Here the array is
touched only by ``size`` and ``slice``, outside any lambda, a fixed
number of times per row, and the one lambda reads fields of its own
element. A short array therefore yields an empty array and a NULL
array yields NULL, with no ``CASE`` guard.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def shifted(t: Column | str, **offsets: int) -> Column:
    """``array<struct>`` with one field per ``name=offset``: element
    ``i`` is ``{name: t[i + offset], ...}`` for every ``i`` where all
    offsets are in range (``size(t) - max(offset)`` elements, none when
    the array is shorter)."""
    m = F.greatest(F.size(t) - max(offsets.values()), F.lit(0))
    return F.arrays_zip(
        *(F.slice(t, 1 + o, m).alias(name) for name, o in offsets.items())
    )


def ngrams(t: Column | str, n: int) -> Column:
    """Every ``n`` contiguous tokens of ``t`` joined with ``' '``, in
    order of their first token."""
    names = [f"t{k}" for k in range(n)]
    z = shifted(t, **{name: k for k, name in enumerate(names)})
    return F.transform(z, lambda g: F.concat_ws(" ", *(g[name] for name in names)))
