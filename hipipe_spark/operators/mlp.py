"""Vendored pure-numpy MLP — a REAL model through the inference path.

``InferenceStage`` (operators/inference.py, the reference's
``tensorflow/run_graph.hpp:43-102`` analog) needs a model to run, and
no ML runtime is a dependency. This module vendors a tiny
deterministic MLP (numpy only — already a dependency) so the
per-worker loader, broadcast weights, and Arrow batch scoring execute
for real:

- **Deterministic dyadic weights** (quarters/eighths — exactly
  representable doubles) generated by pure integer arithmetic, so the
  forward pass can be folded into a SQL oracle as literals (the ``bm25``
  pattern) and hash-compared at the driver gate.
- **ReLU activations and explicit left-to-right accumulation**: every
  op (multiply, add, max(x, 0)) is IEEE-exact and order-pinned, so
  numpy-in-worker and DuckDB-in-oracle produce bit-identical scores —
  no tanh/exp libm drift.
- **Broadcast pattern**: weights ride a Spark broadcast; the loader
  materialises the predict fn once per python worker, exactly how a
  real torch/TF checkpoint would slot in.

Input features are the quality heuristics already oracled by
``quality_lang`` (token count, punct ratio, stopword ratio, mean word
length) — computed JVM-side, so Python only ever sees the 4-column
feature frame.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hipipe_spark.functions.text import (
    mean_word_len, punct_ratio, stopword_ratio, token_count, tokens)

N_FEATURES = 4
N_HIDDEN = 6

FEATURE_COLS = ["f_ntok", "f_punct", "f_stop", "f_mwl"]


def quality_weights() -> tuple[list[list[float]], list[float], list[float], float]:
    """Deterministic MLP weights from integer arithmetic — dyadic
    rationals (exactly representable), identical every call, no RNG.
    Shapes: W1[feature][hidden], b1[hidden], W2[hidden], b2."""
    w1 = [[((3 * f + 5 * h + 1) % 7 - 3) / 4 for h in range(N_HIDDEN)]
          for f in range(N_FEATURES)]
    b1 = [((h % 5) - 2) / 8 for h in range(N_HIDDEN)]
    w2 = [((2 * h + 1) % 5 - 2) / 4 for h in range(N_HIDDEN)]
    return w1, b1, w2, 0.25


def mlp_predict(weights, X: np.ndarray) -> np.ndarray:
    """Forward pass with PINNED accumulation order (feature 0..3, then
    bias; hidden 0..5, then bias) — mirrors the SQL oracle term order
    exactly, so both engines run the identical IEEE op sequence."""
    w1, b1, w2, b2 = weights
    score = None
    for h in range(N_HIDDEN):
        z = X[:, 0] * w1[0][h]
        for f in range(1, N_FEATURES):
            z = z + X[:, f] * w1[f][h]
        z = z + b1[h]
        r = np.maximum(z, 0.0)
        term = r * w2[h]
        score = term if score is None else score + term
    return score + b2


def mlp_oracle_expr(feature_sql: dict[str, str] | None = None) -> str:
    """The SAME forward pass as a SQL scalar expression with the weights
    folded in as literals, term order matching :func:`mlp_predict`.
    ``feature_sql`` maps feature column name → SQL expression (defaults
    to the bare column names)."""
    fs = feature_sql or {c: c for c in FEATURE_COLS}
    w1, b1, w2, b2 = quality_weights()
    hidden = []
    for h in range(N_HIDDEN):
        terms = " + ".join(
            f"({fs[FEATURE_COLS[f]]}) * ({w1[f][h]!r})"
            for f in range(N_FEATURES))
        hidden.append(f"GREATEST({terms} + ({b1[h]!r}), 0.0) * ({w2[h]!r})")
    return "(" + " + ".join(hidden) + f" + ({b2!r}))"


def quality_features(text: Column) -> dict[str, Column]:
    """The 4 JVM-side input features (shared lowered tokenization —
    one split, not four)."""
    toks = tokens(F.lower(text))
    return {
        "f_ntok": token_count(text, toks).cast("double"),
        "f_punct": punct_ratio(text),
        "f_stop": stopword_ratio(text, toks=toks),
        "f_mwl": mean_word_len(text, toks),
    }


def score_quality_mlp(df: DataFrame, text_col: str = "text",
                      out: str = "mlp_score",
                      keep_text: bool = False) -> DataFrame:
    """Score every document with the vendored MLP through the real
    inference path: JVM feature extraction → broadcast weights →
    ``InferenceStage`` (mapInPandas, loader-once-per-worker) → appended
    score column. Returns the input columns + ``out``.

    ``keep_text=False`` (default) excludes ``text_col`` from the Arrow
    passthrough — the model reads only the 4 feature doubles, so the
    raw text (the wide column at 100 TB) never crosses the JVM↔Python
    boundary. Set True to carry it through into the output."""
    from hipipe_spark.operators.inference import InferenceStage

    feats = quality_features(F.col(text_col))
    featured = df.select(
        *df.columns, *[c.alias(n) for n, c in feats.items()])
    passthrough = [c for c in df.columns if keep_text or c != text_col]

    bc = df.sparkSession.sparkContext.broadcast(quality_weights())

    def loader():
        weights = bc.value  # materialised once per python worker

        def predict(pdf: pd.DataFrame) -> pd.DataFrame:
            X = pdf[FEATURE_COLS].to_numpy(dtype=np.float64)
            return pd.DataFrame({out: mlp_predict(weights, X)})

        return predict

    stage = InferenceStage(loader, FEATURE_COLS, f"`{out}` double",
                           name="quality_mlp", passthrough=passthrough)
    return stage.apply(featured).drop(*FEATURE_COLS)
