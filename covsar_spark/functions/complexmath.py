"""Complex arithmetic on (re, im) column pairs — the Spark mapping of the
reference's pervasive complex ops (SURVEY.md §1.2, §2.8): Spark has no complex
type, so complex values ride as two double columns (or two array<double>
columns inside kernels). conj = negate im; abs = hypot; angle = atan2;
wrap-to-[-pi, pi) = pmod expression (covsar/closures.py:162; note the
interval: phi = +pi wraps to -pi, matching `wrap_phase`'s own docstring —
np.angle's (-pi, pi] convention differs at exactly the boundary).

All pure built-in expressions — whole-stage-codegen'd, no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def c_mul(ar, ai, br, bi) -> tuple[F.Column, F.Column]:
    """(a * b): the interferogram product core (covsar/covariance.py:32)."""
    return ar * br - ai * bi, ar * bi + ai * br


def c_conj_mul(ar, ai, br, bi) -> tuple[F.Column, F.Column]:
    """(a * conj(b)) — pairwise interferogram x_i * conj(x_j)."""
    return ar * br + ai * bi, ai * br - ar * bi


def c_angle(re, im) -> F.Column:
    """np.angle analogue (covsar/closures.py:152)."""
    return F.atan2(im, re)


def c_intensity_db(re, im) -> F.Column:
    """10*log10(|z|) (get_intensity, covsar/covariance.py:66-67)."""
    return F.log10(F.hypot(re, im)) * 10.0


def wrap_phase(phi) -> F.Column:
    """Wrap angle to [-pi, pi): (x + pi) % (2*pi) - pi, exactly the reference
    convention (covsar/closures.py:162 — pmod keeps the result non-negative
    before the shift, matching numpy's % on floats)."""
    two_pi = 2.0 * math.pi
    return F.pmod(phi + F.lit(math.pi), F.lit(two_pi)) - F.lit(math.pi)


def c_exp(phi) -> tuple[F.Column, F.Column]:
    """exp(1j * phi) (covsar/closures.py:280-292)."""
    return F.cos(phi), F.sin(phi)


def coherence_norm(cov_re, cov_im, p_ii, p_jj) -> tuple[F.Column, F.Column]:
    """cov_ij / sqrt(cov_ii * cov_jj) (get_coherence, covsar/covariance.py:69-80);
    the diagonal powers p_ii/p_jj are real."""
    d = F.sqrt(p_ii * p_jj)
    return cov_re / d, cov_im / d


def logistic(x, kappa) -> F.Column:
    """The reference's intensity-weighting logistic (covsar/library.py:223-236)."""
    return 2.0 / (1.0 + F.exp(-kappa * x)) - 1.0


def signed_root(x, p: int = 3) -> F.Column:
    """sign(x) * |x|^(1/p) (covsar/closures.py:27-32). p=3 routes through the
    dedicated cbrt builtin (bit-matches DuckDB's cbrt for the oracle gate;
    pow(|x|, 1/3) does not)."""
    if p == 3:
        return F.cbrt(x)
    return F.signum(x) * F.pow(F.abs(x), 1.0 / p)
