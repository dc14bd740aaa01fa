"""Content plane: normalization + digesting, entirely JVM-side.

Every lake row carries ``content_sha256 = sha2(normalize(content), 256)``;
normalization is ``\\r\\n`` → ``\\n`` and lone ``\\r`` → ``\\n``, then Unicode NFC
(the two commute: CR and LF never compose).
No Python worker runs: NFC is ICU4J's (``com.ibm.icu.text.Normalizer``,
shipped with Spark) through ``reflect``, and only on rows where
``octet_length(c) > length(c)``, i.e. with a multi-byte character — ASCII is
already NFC. That gate is also the null guard (``compose`` throws on null).

ICU4J may implement a newer Unicode than Python's ``unicodedata`` (ICU 77 is
Unicode 16, Python 3.11's is 14.0). NFC is stable for assigned code points,
so :func:`normalize_content` equals the :func:`normalize_py` oracle on every
string of code points the Python side knows as assigned.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_line_endings(col: Column) -> Column:
    """``\\r\\n`` → ``\\n``, then lone ``\\r`` → ``\\n``; nulls pass through."""
    return F.regexp_replace(F.regexp_replace(col, "\r\n", "\n"), "\r", "\n")


def nfc(col: Column) -> Column:
    """NFC via ICU4J, gated to rows with a multi-byte character. ``reflect``
    has no generated code: a projection holding it leaves whole-stage
    codegen, so keep this call in a projection of its own."""
    return F.when(
        F.octet_length(col) > F.length(col),
        F.reflect(
            F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), col, F.lit(False)
        ),
    ).otherwise(col)


def normalize_content(col: Column) -> Column:
    """Normalized content column; nulls pass through. Catalyst treats
    ``reflect`` as nondeterministic: project the result once, then reuse it.
    As one expression, NFC goes innermost so its gate and ``reflect`` read
    the input column itself; the order does not change the result (CR and
    LF are NFC starters that never compose with a neighbour)."""
    return normalize_line_endings(nfc(col))


def content_digest(col: Column) -> Column:
    """Per-row invariant digest: lowercase-hex sha256 (JVM-side)."""
    return F.sha2(col, 256)


def normalize_py(text: str | None) -> str | None:
    """Driver/oracle-side reference implementation of the same normalization
    (used by the pandas/duckdb test oracles, never in the Spark plan)."""
    if text is None:
        return None
    t = unicodedata.normalize("NFC", text)
    return t.replace("\r\n", "\n").replace("\r", "\n")
