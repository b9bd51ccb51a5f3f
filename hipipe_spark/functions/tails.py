"""Closed-form upper tails of the normal and χ² distributions.

Spark and DuckDB both lack ``erf`` and the incomplete gamma, so each
p-value is plain arithmetic that an oracle can write identically: the
Bowling et al. (2009) logistic ``1 − Φ(z) ≈ 1/(1+exp(0.07056 z³ +
1.5976 z))`` (against ``math.erfc`` on a 1e-4 grid over |z| ≤ 8 its
error peaks at |z| ≈ 1.476: 1.414e-4 one-sided, 2.829e-4 two-sided),
and the Wilson–Hilferty reduction of the χ²(k) tail to it. Callers
keep their own null gates (``dof ≥ 1``, ``n > 0``, …).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_sf(z: Column) -> Column:
    """Upper normal tail ``1 − Φ(z)`` (logistic approximation). The CDF
    ``Φ(z)`` is ``norm_sf(-z)`` bit for bit: negation is exact and
    round-to-nearest is sign-symmetric."""
    return 1.0 / (1.0 + F.exp(0.07056 * z * z * z + 1.5976 * z))


def norm_sf2(z: Column) -> Column:
    """Two-sided normal tail ``2·(1 − Φ(|z|))``."""
    return 2.0 * norm_sf(F.abs(z))


def wilson_hilferty_z(x: Column, dof: Column | float) -> Column:
    """Standard-normal deviate of a χ²(``dof``) statistic ``x``."""
    k = dof if isinstance(dof, Column) else F.lit(float(dof))
    return ((F.pow(x / k, F.lit(1.0 / 3.0)) - (1.0 - 2.0 / (9.0 * k)))
            / F.sqrt(2.0 / (9.0 * k)))


def chi2_sf(x: Column, dof: Column | float) -> Column:
    """Upper χ²(``dof``) tail of ``x`` via Wilson–Hilferty."""
    return norm_sf(wilson_hilferty_z(x, dof))
