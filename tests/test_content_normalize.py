"""Parity of the JVM content normalization with its Python oracle:
``normalize_content`` (ICU4J NFC on non-ASCII rows, then CRLF/CR → LF) must
equal ``normalize_py`` (``unicodedata`` NFC, same line endings) on every
string made of code points assigned in ``unicodedata.unidata_version``. ICU
may know a newer Unicode; NFC is stable for already-assigned code points, so
the two agree over the older repertoire."""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from translator_ingests_spark.functions.content import normalize_content, normalize_py

# Cn = unassigned in the Python unicodedata version; Cs = lone surrogates,
# which no UTF-8 string can hold
_assigned = st.characters(blacklist_categories=("Cs", "Cn"))
_edge = st.sampled_from([
    "\r\n", "\r", "\n", "\r\r\n",
    "e\u0301",  # e + combining acute -> U+00E9
    "\u0301",  # a combining mark with no base
    "A\u030a", "\u212b",  # A + ring, ANGSTROM SIGN -> U+00C5
    "\u1100\u1161\u11a8",  # conjoining jamo -> one Hangul syllable
    "o\u0308\u0304", "\u0344",  # stacked marks, a decomposing mark
    "\u00e9", "\u4e2d", "\U0001f600",  # already NFC, BMP and astral
])
_texts = st.one_of(
    st.none(), st.lists(st.one_of(st.text(_assigned, max_size=5), _edge),
                        max_size=8).map("".join)
)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_texts, min_size=1, max_size=24))
@example([None, "", "ascii\r\nonly\r", "cafe\u0301\r\n", "\u0301lead", "A\u030a\rB"])
def test_normalize_content_matches_normalize_py(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "i int, c string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_content(F.col("c")).alias("n")).collect()
    }
    assert [got[i] for i in range(len(texts))] == [normalize_py(t) for t in texts]
