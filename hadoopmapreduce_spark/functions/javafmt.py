"""Java ``Float.toString``-compatible rendering.

The reference emits the final CTR through 32-bit float ``Float.toString``
(``ClickThru.java:179-186``), so the CLI's byte-for-byte fidelity mode needs
Java's exact rendering rule (Float.toString javadoc):

* ``NaN`` -> ``"NaN"``; infinities -> ``"Infinity"`` / ``"-Infinity"``;
  zeros keep their sign (``"0.0"`` / ``"-0.0"``).
* if ``1e-3 <= |v| < 1e7``: plain decimal form with the shortest digit
  string that round-trips the float32 (always >= 1 fractional digit).
* otherwise: computerized scientific notation ``d.dddE<n>`` — uppercase
  ``E``, no ``+`` on positive exponents (``"1.0E-4"``, ``"1.0E8"``).

:func:`java_f32_str` is the column renderer the CLI uses: Spark's own
float-to-string cast, which is Java's rendering, so no Python worker
starts.  :func:`java_float32_repr` is the pure-Python statement of the JDK
>= 19 rule and is what the tests pin the cast against.  ``str(np.float32(x))``
gets the shortest digits right but not the form: numpy renders ``0.0001`` as
``"1e-04"`` where Java emits ``"1.0E-4"``.  We take numpy's shortest-round-trip
digits (``np.format_float_scientific(..., unique=True)``) and re-assemble the
form per the Java rule.

JDK 17's ``Float.toString`` predates the shortest-digits rule.  It agrees
with it on every ratio ``c/t`` with ``t <= 1000`` (the sweep test) and on
random float32 samples across ``[1e-38, 1e7)``, but not on every value
above ``1e7`` or below ``1.2e-38``; a CTR is never there.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column


def java_float32_repr(x: float) -> str:
    """Render ``x`` exactly as Java's ``Float.toString((float) x)``."""
    f = np.float32(x)
    if np.isnan(f):
        return "NaN"
    if np.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    if f == 0.0:
        return "-0.0" if np.signbit(f) else "0.0"
    sign = "-" if f < 0 else ""
    digits, exp = _sci_digits(np.format_float_scientific(abs(f), unique=True))
    if len(digits) == 1:
        # a one-digit shortest form competes with the two-digit decimals:
        # the one closest to f wins (Float.MIN_VALUE is "1.4E-45", not
        # "1.0E-45"); only subnormals are wide enough for this to differ
        two = np.format_float_scientific(abs(f), unique=False, precision=1)
        if np.float32(two) == abs(f):
            digits, exp = _sci_digits(two)
    if exp >= 7 or exp <= -4:  # |v| >= 1e7 or < 1e-3: scientific form
        frac = digits[1:] or "0"
        return f"{sign}{digits[0]}.{frac}E{exp}"
    if exp >= len(digits) - 1:  # integral: pad with zeros, ".0" tail
        return f"{sign}{digits}{'0' * (exp - len(digits) + 1)}.0"
    if exp >= 0:
        return f"{sign}{digits[: exp + 1]}.{digits[exp + 1:]}"
    return f"{sign}0.{'0' * (-exp - 1)}{digits}"


def _sci_digits(sci: str) -> tuple[str, int]:
    """``"d.ddde<n>"`` -> (significant digits without trailing zeros, n)."""
    mant, _, exp_s = sci.partition("e")
    return mant.replace(".", "").rstrip("0") or "0", int(exp_s)


def java_f32_str(col: Column) -> Column:
    """Render a numeric column as Java's ``Float.toString((float) v)``."""
    return col.cast("float").cast("string")
