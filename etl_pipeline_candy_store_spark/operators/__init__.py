"""Custom operators: the pieces Catalyst cannot express declaratively.

Everything here is either a composition of built-in DataFrame ops or an
Arrow-batched pandas function (``mapInPandas`` over key-partitioned,
sorted partitions, as the allocation runs, or an ``applyInPandas``
group function) — never a row-at-a-time Python UDF.
"""
