"""Pipeline composition — the `operator|` chain, Spark-shaped.

The reference composes stream transformers with ``operator|``; each stage
is a view closure and the composed range pipeline IS the IR, fused by the
C++ compiler (reference ``doc/mainpage.md:74-111``, and
``include/hipipe/core/stream/transform.hpp:74-84`` where every transform
lowers to one range transform over ``batch_t``).

Here every stage is a named ``DataFrame -> DataFrame`` callable and the
composed *DataFrame lineage* is the IR, optimized by Catalyst. Stages are
declarative: chaining never triggers execution, exactly like the
reference's pull-based lazy ranges (``for_each.hpp:46`` "applied lazily").

Catalyst fuses row-local work across stages, but not windows: each
stage's ``Project`` between two ``Window`` s stops ``CollapseWindow``,
so chained window stages cost a Window exec each. :class:`Pipeline`
fuses consecutive :class:`WindowStage` s over one spec itself.

    pipe = Pipeline([
        Sessionize(gap="30 minutes"),
        LagLead("text_len", lags=[1, 2, 3]),
        Backfill("tool", lookback=10),
    ])
    features = pipe(turns)           # or: turns | pipe  (readability alias)
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from itertools import zip_longest

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame


class Stage:
    """A named DataFrame→DataFrame transformation.

    Analog of the reference's batch-level ``partial_transform``
    (``transform.hpp:71-106``): the single primitive every public
    operator lowers onto. Subclasses implement :meth:`apply`.
    """

    name: str = "stage"

    def __init__(self, name: str | None = None):
        if name is not None:
            self.name = name

    def apply(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)

    def __ror__(self, df: DataFrame) -> DataFrame:
        """``df | stage`` — the hipipe chaining spelling."""
        return self.apply(df)

    def __or__(self, other: "Stage | Pipeline") -> "Pipeline":
        """``stage | stage`` composes into a Pipeline."""
        return Pipeline([self]) | other

    def __repr__(self) -> str:
        return f"<{type(self).__name__} {self.name!r}>"


class FnStage(Stage):
    """Wrap a plain function as a Stage."""

    def __init__(self, fn: Callable[[DataFrame], DataFrame], name: str | None = None):
        super().__init__(name or getattr(fn, "__name__", "fn"))
        self._fn = fn

    def apply(self, df: DataFrame) -> DataFrame:
        return self._fn(df)


class WindowStage(Stage):
    """Window expressions over one ``(key, order)`` spec. :meth:`levels`
    gives the named outputs by dependency level (a level reads only the
    input and earlier levels); ``__`` names are temporaries, dropped at
    the end, and a temporary's name fixes its expression, so fused
    stages share it. :meth:`apply` runs one ``select`` per level."""

    key: str | Sequence[str]
    order: Sequence[str]

    def levels(self) -> list[dict[str, Column]]:  # pragma: no cover
        raise NotImplementedError

    def apply(self, df: DataFrame) -> DataFrame:
        return _select_levels(df, [self.levels()])


def _select_levels(df: DataFrame, stages: list[list[dict[str, Column]]]) -> DataFrame:
    """Level ``i`` of every stage in one ``select``; outputs follow the
    input columns in stage order, or replace the input column they name.
    A stage reading another's output at its own level fails analysis:
    then the stages run one at a time."""
    out = df
    try:
        for group in zip_longest(*stages, fillvalue={}):
            out = out.withColumns({n: c for level in group for n, c in level.items()})
    except AnalysisException:
        if len(stages) == 1:
            raise
        for levels in stages:
            df = _select_levels(df, [levels])
        return df
    new = [n for levels in stages for level in levels for n in level
           if not n.startswith("__") and n not in df.columns]
    return out.select(*df.columns, *dict.fromkeys(new))


class Pipeline:
    """An ordered chain of stages; itself a Stage-like callable. A run
    of consecutive window stages with one spec is fused into one
    ``select`` (one Window exec) per dependency level; a stage joins
    only if its output names are new to the run's input and outputs."""

    def __init__(self, stages: Iterable[Stage | Callable[[DataFrame], DataFrame]] = ()):
        self.stages: list[Stage] = [
            s if isinstance(s, Stage) else FnStage(s) for s in stages
        ]

    def __call__(self, df: DataFrame) -> DataFrame:
        run, spec, taken = [], None, set()  # fused levels; their spec; taken names
        for stage in self.stages:
            levels = stage.levels() if isinstance(stage, WindowStage) else []
            names = {n for level in levels for n in level}
            if run and (not levels or (stage.key, tuple(stage.order)) != spec
                        or names & taken):
                df, run = _select_levels(df, run), []
            if levels and not run:
                spec, taken = (stage.key, tuple(stage.order)), set(df.columns)
            if levels and not names & taken:
                run.append(levels)
                taken |= {n for n in names if not n.startswith("__")}
            else:
                df = stage(df)
        return _select_levels(df, run) if run else df

    def __ror__(self, df: DataFrame) -> DataFrame:
        return self(df)

    def __or__(self, other: "Stage | Pipeline | Callable") -> "Pipeline":
        if isinstance(other, Pipeline):
            return Pipeline(self.stages + other.stages)
        return Pipeline([*self.stages, other])

    def named(self) -> list[str]:
        return [s.name for s in self.stages]

    def __repr__(self) -> str:
        return f"Pipeline({' | '.join(self.named())})"
