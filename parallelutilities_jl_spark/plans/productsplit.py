"""Deterministic balanced partitioning of lazy Cartesian products — the
reference's core data model, as O(1) Python *planning* descriptors.

Semantics mirror the reference exactly (cited per method):

* the product of ranges is enumerated in reverse-lexicographic order
  (first range varies fastest; reference src/productsplit.jl:25-27),
* a split is a contiguous 1-D index window; worker p of np gets the
  balanced div/rem block (reference src/productsplit.jl:124-130), and
* every metadata query (length, first/last, per-dim min/max/extrema,
  distinct counts, membership, ownership lookup) is answered in O(1)
  from the window bounds alone — no enumeration (reference
  src/productsplit.jl:345-928, benchmarked at ~100 ns on 4×10^10-element
  splits in docs/src/pmapreduce.md:123-159).

Why this matters at 100 TB: these descriptors are the *partition-pruning
layer*. A driver planning a query over a 10^12-element product decides
which Spark partitions can possibly contain a tuple (``whichproc``), what
value ranges a partition covers (``extremadims``), and how an existing
split maps onto a different parallelism (``procrange_recast``) without
touching data. The DataFrame mirror of each operator (closed-form column
expressions, see plans/dataframe.py) carries the same math executor-side.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import cached_property
from typing import Iterator, Optional, Sequence

from parallelutilities_jl_spark.sources.ranges import RangeSpec


class TaskNotPresentError(KeyError):
    """A value is absent from the task set (reference src/productsplit.jl:1-7)."""


def nelementsdroptake(total: int, np: int, p: int) -> tuple[int, int]:
    """Balanced contiguous block bounds: worker ``p`` (1-based) of ``np``
    gets ``take`` elements after skipping ``drop``. First ``r = total % np``
    workers get one extra element (reference src/productsplit.jl:124-130).
    """
    if not 1 <= p <= np:
        raise ValueError(f"processor rank p={p} out of range [1, {np}]")
    d, r = divmod(total, np)
    drop = d * (p - 1) + min(r, p - 1)
    take = d * p + min(r, p) - drop
    return drop, take


def partition_of_index(total: int, np: int, i0: int) -> int:
    """Inverse of the block rule: which 1-based rank owns 0-based index
    ``i0``. Closed form — the binary search in the reference
    (src/productsplit.jl:774-805) resolves to this because blocks follow
    the div/rem rule."""
    if not 0 <= i0 < total:
        raise IndexError(i0)
    d, r = divmod(total, np)
    boundary = r * (d + 1)
    if i0 < boundary:
        return i0 // (d + 1) + 1
    return r + (i0 - boundary) // d + 1


@dataclass(frozen=True)
class ProductSpec:
    """The full (unsplit) outer product of ranges, first range fastest.

    ≙ reference `Product` (src/mapreduce.jl:18-30) /
    `AbstractConstrainedProduct` iterators (src/productsplit.jl:14-20).
    """

    ranges: tuple[RangeSpec, ...]

    def __post_init__(self) -> None:
        if not self.ranges:
            raise ValueError("need at least one range")
        # the reference rejects non-increasing ranges at construction
        # (src/productsplit.jl:43 requires step > 0): every O(1) extrema/
        # bounds formula downstream assumes increasing ranges, so a
        # decreasing range would silently answer (min, max) swapped.
        for k, r in enumerate(self.ranges):
            if r.step <= 0 and r.length > 1:
                raise ValueError(
                    f"range {k + 1} has step {r.step} <= 0; product ranges "
                    "must be increasing (reference src/productsplit.jl:43)"
                )

    @cached_property
    def lengths(self) -> tuple[int, ...]:
        return tuple(r.length for r in self.ranges)

    @cached_property
    def strides(self) -> tuple[int, ...]:
        """Mixed-radix place values: stride[k] = prod(lengths[:k]) — the
        reference's `togglelevels` (src/productsplit.jl:52-59,98)."""
        out, acc = [], 1
        for n in self.lengths:
            out.append(acc)
            acc *= n
        return tuple(out)

    @cached_property
    def total(self) -> int:
        return math.prod(self.lengths)

    @property
    def ndims(self) -> int:
        return len(self.ranges)

    @property
    def colnames(self) -> tuple[str, ...]:
        return tuple(f"c{k + 1}" for k in range(self.ndims))

    def decode(self, i0: int) -> tuple:
        """0-based linear index → value tuple (reference `childindex` +
        range indexing, src/productsplit.jl:264-324). O(ndims)."""
        if not 0 <= i0 < self.total:
            raise IndexError(i0)
        return tuple(
            r.value((i0 // s) % n)
            for r, s, n in zip(self.ranges, self.strides, self.lengths)
        )

    def child_index(self, i0: int) -> tuple[int, ...]:
        """0-based linear index → per-range 0-based indices."""
        if not 0 <= i0 < self.total:
            raise IndexError(i0)
        return tuple(
            (i0 // s) % n for s, n in zip(self.strides, self.lengths)
        )

    def encode(self, val: Sequence) -> Optional[int]:
        """Value tuple → 0-based linear index; None if any coordinate is
        off-grid (reference `indexinproduct`, src/productsplit.jl:719-728).
        O(ndims)."""
        if len(val) != self.ndims:
            return None
        i0 = 0
        for v, r, s in zip(val, self.ranges, self.strides):
            k = r.index_of(v)
            if k is None:
                return None
            i0 += k * s
        return i0

    def split(self, np: int, p: int) -> "ProductSplit":
        drop, take = nelementsdroptake(self.total, np, p)
        return ProductSplit(self, drop, drop + take - 1, np, p)

    def section(self, first0: int, last0: int) -> "ProductSection":
        return ProductSection(self, first0, last0)


@dataclass(frozen=True)
class ProductSection:
    """A contiguous 0-based inclusive index window [first0, last0] of the
    product (reference `ProductSection`, src/productsplit.jl:33-100).
    Empty iff last0 < first0."""

    spec: ProductSpec
    first0: int
    last0: int

    def __post_init__(self) -> None:
        if self.first0 < 0 or self.last0 >= self.spec.total:
            if not self.is_empty:
                raise ValueError(
                    f"window [{self.first0}, {self.last0}] outside "
                    f"[0, {self.spec.total - 1}]"
                )

    # ---- size (reference src/productsplit.jl:188,212-218) ----
    @property
    def is_empty(self) -> bool:
        return self.last0 < self.first0

    def __len__(self) -> int:
        return 0 if self.is_empty else self.last0 - self.first0 + 1

    # ---- element access (reference src/productsplit.jl:190-210,308-324) ----
    def __getitem__(self, local0: int) -> tuple:
        if not 0 <= local0 < len(self):
            raise IndexError(local0)
        return self.spec.decode(self.first0 + local0)

    def __iter__(self) -> Iterator[tuple]:
        for i0 in range(self.first0, self.last0 + 1):
            yield self.spec.decode(i0)

    @property
    def first_el(self) -> tuple:
        self._check_nonempty()
        return self.spec.decode(self.first0)

    @property
    def last_el(self) -> tuple:
        self._check_nonempty()
        return self.spec.decode(self.last0)

    def _check_nonempty(self) -> None:
        if self.is_empty:
            raise ValueError("collection must be non-empty")

    # ---- O(1) per-dimension metadata ----
    def _super_bounds(self, dim: int) -> tuple[int, int]:
        """Window bounds in dim-k "super index" units: value index along
        dim k at linear index i is (i // stride_k) % len_k, so the window
        covers super-indices A..B contiguously."""
        s = self.spec.strides[dim]
        return self.first0 // s, self.last0 // s

    def _rolls_over(self, dim: int) -> bool:
        """True iff dim `dim` wraps past its last value inside the window
        (reference `_checkrollover`, src/productsplit.jl:345-368)."""
        a, b = self._super_bounds(dim)
        n = self.spec.lengths[dim]
        return (a // n) != (b // n)

    def nelements(self, dim: int) -> int:
        """Distinct values along dimension ``dim`` (0-based) in the window,
        O(1) (reference `nelements`, src/productsplit.jl:406-432: super
        indices A..B are consecutive mod len, so the count is
        min(len, B - A + 1))."""
        self._check_nonempty()
        a, b = self._super_bounds(dim)
        return min(self.spec.lengths[dim], b - a + 1)

    def minimumelement(self, dim: int):
        return self.extremaelement(dim)[0]

    def maximumelement(self, dim: int):
        return self.extremaelement(dim)[1]

    def extremaelement(self, dim: int) -> tuple:
        """(min, max) along ``dim`` in O(1) (reference `extremaelement`,
        src/productsplit.jl:560-596: on rollover the full range is covered,
        otherwise the covered value-indices are A%len..B%len)."""
        self._check_nonempty()
        r = self.spec.ranges[dim]
        n = self.spec.lengths[dim]
        a, b = self._super_bounds(dim)
        if (a // n) != (b // n):  # rolled over → full range present
            lo, hi = 0, n - 1
        else:
            lo, hi = a % n, b % n
        return (r.value(lo), r.value(hi))

    def extremadims(self) -> tuple:
        """(min, max) along every dim (reference src/productsplit.jl:627-634)."""
        return tuple(self.extremaelement(d) for d in range(self.spec.ndims))

    def extrema_commonlastdim(self):
        """Per leading dim: min coordinate among elements whose last-dim
        value is minimal, and max among those where it is maximal, each
        paired with that extreme last value (reference
        src/productsplit.jl:664-691). O(ndims): the qualifying elements
        form contiguous sub-windows at the two ends."""
        if self.is_empty:
            return None
        nd = self.spec.ndims
        s_last = self.spec.strides[nd - 1]
        a_last, b_last = self._super_bounds(nd - 1)
        r_last = self.spec.ranges[nd - 1]
        lastmin, lastmax = r_last.value(a_last), r_last.value(b_last)
        # elements with last == lastmin / lastmax are contiguous prefixes /
        # suffixes of the window:
        head = ProductSection(
            self.spec, self.first0, min(self.last0, (a_last + 1) * s_last - 1)
        )
        tail = ProductSection(
            self.spec, max(self.first0, b_last * s_last), self.last0
        )
        min_vals = [
            (head.extremaelement(d)[0], lastmin) for d in range(nd - 1)
        ]
        max_vals = [
            (tail.extremaelement(d)[1], lastmax) for d in range(nd - 1)
        ]
        return min_vals, max_vals

    # ---- membership & lookup (reference src/productsplit.jl:693-928) ----
    def __contains__(self, val) -> bool:
        i0 = self.spec.encode(val)
        return i0 is not None and self.first0 <= i0 <= self.last0

    def localindex(self, val) -> Optional[int]:
        """1-based index of ``val`` within the window; None if absent
        (reference `localindex`, src/productsplit.jl:891-896)."""
        i0 = self.spec.encode(val)
        if i0 is None or not self.first0 <= i0 <= self.last0:
            return None
        return i0 - self.first0 + 1

    # ---- projections / splitting ----
    def dropleading(self) -> "ProductSection":
        """Project away the fastest dimension; remaining distinct tuples as
        a section of the tail product (reference `dropleading`,
        src/productsplit.jl:960-968)."""
        self._check_nonempty()
        if self.spec.ndims < 2:
            raise ValueError("need at least two iterators")
        n1 = self.spec.lengths[0]
        tail_spec = ProductSpec(self.spec.ranges[1:])
        return ProductSection(tail_spec, self.first0 // n1, self.last0 // n1)

    def halve(self) -> tuple["ProductSection", "ProductSection"]:
        """SplittablesBase.halve protocol (reference src/productsplit.jl:221-233)."""
        mid = (self.first0 + self.last0) // 2
        return (
            ProductSection(self.spec, self.first0, mid),
            ProductSection(self.spec, mid + 1, self.last0),
        )


@dataclass(frozen=True)
class ProductSplit(ProductSection):
    """The p-th of np balanced blocks — the unit of distribution
    (reference `ProductSplit`, src/productsplit.jl:113-165).
    ≙ one Spark partition: p - 1 = spark_partition_id()."""

    np: int = 1
    p: int = 1

    @property
    def workerrank(self) -> int:
        return self.p

    @property
    def nworkers(self) -> int:
        return self.np


def whichproc(spec: ProductSpec, val, np: int) -> Optional[int]:
    """1-based rank owning ``val`` under an np-way split; None if off-grid
    (reference `whichproc`, src/productsplit.jl:774-805 — binary search
    there, closed-form block inverse here)."""
    i0 = spec.encode(val)
    if i0 is None:
        return None
    return partition_of_index(spec.total, np, i0)


def whichproc_localindex(spec: ProductSpec, val, np: int):
    """(rank, 1-based local index) of ``val`` (reference
    src/productsplit.jl:922-928)."""
    p = whichproc(spec, val, np)
    if p is None:
        return None
    return p, spec.split(np, p).localindex(val)


def procrange_recast(ps: ProductSection, np_new: int) -> Optional[range]:
    """Ranks (inclusive python range) covering ``ps`` if the same product
    were split over ``np_new`` workers (reference `procrange_recast`,
    src/productsplit.jl:831-868). Raises TaskNotPresentError if an element
    is off-grid; returns None for empty splits."""
    if ps.is_empty:
        return None
    lo = whichproc(ps.spec, ps.first_el, np_new)
    hi = whichproc(ps.spec, ps.last_el, np_new)
    if lo is None or hi is None:
        raise TaskNotPresentError(ps)
    return range(lo, hi + 1)


@dataclass(frozen=True)
class ZipSplit:
    """The p-th of np balanced blocks of zip(ranges...) — element-wise
    alignment, not product (reference `zipsplit`, src/mapreduce.jl:45-78).
    All ranges must share a length."""

    ranges: tuple[RangeSpec, ...]
    np: int = 1
    p: int = 1
    first0: int = field(init=False, default=0)
    last0: int = field(init=False, default=-1)

    def __post_init__(self) -> None:
        n = {r.length for r in self.ranges}
        if len(n) != 1:
            raise ValueError("zip requires equal-length ranges")
        drop, take = nelementsdroptake(self.ranges[0].length, self.np, self.p)
        object.__setattr__(self, "first0", drop)
        object.__setattr__(self, "last0", drop + take - 1)

    @property
    def is_empty(self) -> bool:
        return self.last0 < self.first0

    def __len__(self) -> int:
        return 0 if self.is_empty else self.last0 - self.first0 + 1

    def __getitem__(self, local0: int) -> tuple:
        if not 0 <= local0 < len(self):
            raise IndexError(local0)
        i = self.first0 + local0
        return tuple(r.value(i) for r in self.ranges)

    def __iter__(self) -> Iterator[tuple]:
        for j in range(len(self)):
            yield self[j]
