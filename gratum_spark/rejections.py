"""Rejection model: categories, reject-rule bookkeeping, LoadStatistic.

Reference semantics (gratum): any step may reject a row with a category +
reason; rejected rows short-circuit the remaining steps and flow to a
secondary "rejections" pipeline carrying ``rejectionCategory``,
``rejectionReason`` and ``rejectionStep`` columns; ``go()`` returns a
``LoadStatistic`` with loaded count and per-category×step reject counts.
(reference: src/main/groovy/gratum/etl/Rejection.groovy:9-22,
RejectionCategory.groovy:9-17, LoadStatistic.groovy:12-163)

Spark design — rejects as a tagged column. Besides its kept plan
(``Pipeline.df``), a pipeline describes an *accounting plan*: the same
scan carrying one extra int column, :data:`REJECT_TAG`, that stays null
while a row is live. A row-local rejecting step sets the tag on the live
rows it rejects — the code indexes that segment's (category, step,
reason) table — and a tagged row skips every later step, closures
included, as gratum's ``__reject__`` row does (Pipeline.groovy:1384-1387).
Such a step is defined once, as gratum's step is one closure
(``Pipeline._row_step``): helper columns, one keep predicate per reject
rule, and the columns it sets. The kept plan filters on the AND of those
keep predicates, and the accounting plan tags each live row with the
first rule whose predicate is not true, so the two plans cannot disagree
on which rows a step keeps. A closure in a predicate or a helper takes
the live flag in its accounting form and never sees a tagged row.
Each row therefore crosses the step chain once, and one aggregate over
the tag column yields the loaded count and every category×step count
together: a file sink writes ``accounting.observe(counts).filter(live)``,
so the write itself produces the ``LoadStatistic`` and ``go()`` on its
result runs no Spark job. Operators that are not row-local (joins,
sorts, aggregates, limits, unions, ...) start a new accounting segment
from their output; the segments before it are counted in the same
aggregate. So does a step whose user Column holds a Python UDF: Spark
runs such a UDF on every row, rejected ones too, so it runs on the kept
rows instead.

The rejected rows themselves ride the same plan. ``rejections_df()`` /
``on_rejection`` build each accounting segment once more with one extra
VARIANT column, :data:`REJECT_PAYLOAD`: a step that tags a row also sets
it to ``to_variant_object(struct(<the row's columns>))`` — its values at
the moment it was rejected, e.g. the raw ``"12x"`` that ``as_int``
refused — plus, for ``add_step``, the reason its closure gave. The
rejected rows of every segment are unioned, their tag codes mapped to
category, step and reason, and their payloads expanded. A column comes
back at its type in the kept plan when every rejecting step saw it at
one type, and as a string otherwise. Only that build carries the
payload: the write plan and ``go()``'s aggregate never do. Callers that
only read ``Pipeline.df`` pay for none of this.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from enum import Enum

REJECT_CATEGORY = "rejectionCategory"
REJECT_REASON = "rejectionReason"
REJECT_STEP = "rejectionStep"
# The accounting plan's tag column: null while the row is live, else an
# int code into the accounting segment's (category, step, reason) table.
REJECT_TAG = "__reject__"
# A rejected row's values, as one VARIANT; only rejections_df() builds it.
REJECT_PAYLOAD = "__payload__"


class RejectionCategory(str, Enum):
    """Mirrors gratum's RejectionCategory enum (RejectionCategory.groovy:9-17)."""

    INVALID_FORMAT = "INVALID_FORMAT"
    MISSING_DATA = "MISSING_DATA"
    DUPLICATE = "DUPLICATE"
    REJECTION = "REJECTION"
    SCRIPT_ERROR = "SCRIPT_ERROR"
    RUNTIME_ERROR = "RUNTIME_ERROR"
    IGNORE_ROW = "IGNORE_ROW"


@dataclass
class Rejection:
    """Return value for row closures that reject the current row
    (reference: Rejection.groovy:9-22 + Pipeline.reject helper).

    A gratum closure calls ``reject(row, reason, category)``; the Python
    closure simply returns ``Rejection(reason, category)`` (or the
    :func:`reject` convenience) — the original row is preserved by the
    step machinery."""

    reason: str = "rejected"
    category: RejectionCategory = RejectionCategory.REJECTION


def reject(
    reason: str = "rejected",
    category: RejectionCategory = RejectionCategory.REJECTION,
) -> Rejection:
    """Convenience mirroring gratum's ``reject(...)`` static helper."""
    return Rejection(reason, category)


@dataclass
class LoadStatistic:
    """Result of Pipeline.go(): loaded count + reject accounting + timing.

    Mirrors gratum's LoadStatistic (LoadStatistic.groovy:12-163). Per-step
    wall timings exist only for Python-closure steps (add_step, closure
    filters), measured executor-side via accumulators over the action
    that produced the counts (the sink's write, or ``go()``'s aggregate);
    expression-only steps fuse into whole-stage codegen and have no
    separable time. Each live row runs each closure once, but timings
    are summed over executor tasks, so under parallelism they can exceed
    the action's wall-clock.
    """

    name: str
    loaded: int
    start_ms: float
    end_ms: float
    # {category: {step: count}}
    rejections: dict[str, dict[str, int]] = field(default_factory=dict)
    # {step: executor-side Python ms} — closure steps only; see class doc
    step_timings: dict[str, float] = field(default_factory=dict)

    @property
    def duration_ms(self) -> float:
        return self.end_ms - self.start_ms

    @property
    def rejected(self) -> int:
        return sum(c for by_step in self.rejections.values() for c in by_step.values())

    def rejections_for(self, category: RejectionCategory | str) -> int:
        key = category.value if isinstance(category, RejectionCategory) else category
        return sum(self.rejections.get(key, {}).values())

    def rejections_by_step(self, category: RejectionCategory | str) -> dict[str, int]:
        key = category.value if isinstance(category, RejectionCategory) else category
        return dict(self.rejections.get(key, {}))

    def merge(self, other: "LoadStatistic", include_timings: bool = True) -> "LoadStatistic":
        """Fold another run's statistics into this one (reference:
        LoadStatistic.groovy merge, LoadStatisticTest.groovy:9-52) —
        the concurrency-context aggregation primitive. Sums loaded and
        per-category×step reject counts; the merged duration spans both
        runs (min start .. max end). ``include_timings=False`` leaves
        this run's step timings untouched (LoadStatisticTest.groovy
        testMergeWithoutStepTimings — used when the merged pipelines'
        steps are unrelated and summing their timings would mislead).
        Mutates and returns self, like the reference."""
        self.loaded += other.loaded
        for cat, by_step in other.rejections.items():
            mine = self.rejections.setdefault(cat, {})
            for step, n in by_step.items():
                mine[step] = mine.get(step, 0) + n
        self.start_ms = min(self.start_ms, other.start_ms)
        self.end_ms = max(self.end_ms, other.end_ms)
        if include_timings:
            for step, ms in other.step_timings.items():
                self.step_timings[step] = self.step_timings.get(step, 0.0) + ms
        return self

    def __str__(self) -> str:  # pragma: no cover - debug aid
        return (
            f"LoadStatistic(name={self.name!r}, loaded={self.loaded}, "
            f"rejected={self.rejected}, duration={self.duration_ms:.0f}ms)"
        )


def now_ms() -> float:
    return time.time() * 1000.0


# Reference: MAX_ERROR_THRESHOLD = 50 (etl/Step.groovy:9) — a pipeline
# aborts when a step accumulates >50 SCRIPT_ERRORs with 0 loaded rows.
MAX_ERROR_THRESHOLD = 50


class PipelineAbortException(RuntimeError):
    """Raised by go() when SCRIPT_ERROR counts exceed MAX_ERROR_THRESHOLD
    with zero loaded rows (util/PipelineAbortException.java:3-12).

    Under lazy execution the check is post-hoc (after the counting
    action) rather than mid-stream; the contract — a fully-broken step
    never reports success — is preserved."""
