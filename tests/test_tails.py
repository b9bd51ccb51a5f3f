"""The shared closed-form tails (functions/tails.py): their error
against the exact normal tail, and that each is written once."""

import io
import math
import pathlib
import tokenize

from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parents[1] / "hipipe_spark"


def test_logistic_phi_error_bound(spark):
    """On a 1e-4 grid over |z| <= 8 the logistic tail's error against
    ``math.erfc`` peaks at |z| ~ 1.476: 1.414e-4 one-sided, 2.829e-4
    two-sided."""
    from hipipe_spark.functions.tails import norm_sf, norm_sf2

    z = F.round(F.col("id") * 1e-4, 4)
    rows = (spark.range(-80_000, 80_001)
            .select(z.alias("z"), norm_sf(z).alias("one"),
                    norm_sf2(z).alias("two"))
            .collect())
    err1 = max((abs(r.one - 0.5 * math.erfc(r.z / math.sqrt(2))), r.z)
               for r in rows)
    err2 = max((abs(r.two - math.erfc(abs(r.z) / math.sqrt(2))), r.z)
               for r in rows)
    assert 1.414e-4 < err1[0] < 1.415e-4 and abs(abs(err1[1]) - 1.476) < 1e-3
    assert 2.828e-4 < err2[0] < 2.830e-4 and abs(abs(err2[1]) - 1.476) < 1e-3


def _modules_with(predicate):
    return sorted(p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")
                  if predicate(p.read_text()))


def _has_number(src, literal):
    toks = tokenize.generate_tokens(io.StringIO(src).readline)
    return any(t.type == tokenize.NUMBER and t.string == literal
               for t in toks)


def test_each_tail_is_written_once():
    assert _modules_with(lambda s: _has_number(s, "0.07056")) == [
        "functions/tails.py"]
    assert _modules_with(lambda s: "2.0 / (9.0 *" in s) == [
        "functions/tails.py"]
    drift = (PKG / "operators" / "drift.py").read_text()
    assert drift.count('F.lit(1).alias("is_a")') == 1
