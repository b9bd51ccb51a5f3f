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

    pipe = Pipeline([
        Sessionize(gap="30 minutes"),
        Lag("text_len", offsets=[1, 2, 3]),
        Backfill("tool", lookback=10),
    ])
    features = pipe(turns)           # or: turns | pipe  (readability alias)
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame


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


class Pipeline:
    """An ordered chain of stages; itself a Stage-like callable.

    Unlike the reference there IS an optimizer between composition and
    execution — Catalyst — so stage boundaries are logical only; Spark is
    free to fuse, reorder filters, prune columns across them.
    """

    def __init__(self, stages: Iterable[Stage | Callable[[DataFrame], DataFrame]] = ()):
        self.stages: list[Stage] = [
            s if isinstance(s, Stage) else FnStage(s) for s in stages
        ]

    def __call__(self, df: DataFrame) -> DataFrame:
        for stage in self.stages:
            df = stage(df)
        return df

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
