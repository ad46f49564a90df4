"""The engine turns Spark's ICU case mappings off (session._DEFAULT_CONFS):
with them on, the first lower()/upper() in a JVM builds a title-case table
over every code point. Off, lower()/upper() must agree with ICU wherever
the JVM knows the characters involved.

Every non-surrogate code point, plus multilingual strings, goes through
lower() and upper() under the engine default and under ICU. Each
difference must involve a code point the JVM does not define
(``Character.isDefined`` is false): a character newer than the JVM's
Unicode tables.
"""

from __future__ import annotations

ICU_FLAG = "spark.sql.icu.caseMappings.enabled"
WORDS = ["İstanbul", "straße", "ΟΔΟΣ", "東京", "😀", "Ǆemal", "ΣΊΣΥΦΟΣ"]


def _case_mapped(frame) -> dict[str, tuple[str, str]]:
    from pyspark.sql import functions as F

    table = frame.select(
        "s", F.lower("s").alias("lo"), F.upper("s").alias("up")
    ).toArrow()
    return dict(zip(table["s"].to_pylist(),
                    zip(table["lo"].to_pylist(), table["up"].to_pylist())))


def test_default_case_mapping_agrees_with_icu(spark):
    import pandas as pd

    from payor_mdm_spark.session import _DEFAULT_CONFS

    assert _DEFAULT_CONFS[ICU_FLAG] == "false"
    assert spark.conf.get(ICU_FLAG) == "false"

    texts = [chr(cp) for cp in range(0x110000)
             if not 0xD800 <= cp <= 0xDFFF] + WORDS
    frame = spark.createDataFrame(pd.DataFrame({"s": texts}))
    default = _case_mapped(frame)
    spark.conf.set(ICU_FLAG, "true")
    try:
        icu = _case_mapped(frame)
    finally:
        spark.conf.set(ICU_FLAG, "false")
    assert len(default) == len(icu) == len(set(texts))

    is_defined = spark._jvm.java.lang.Character.isDefined
    differ = {s: (default[s], icu[s]) for s in texts if default[s] != icu[s]}
    unexplained = {
        s: pair for s, pair in differ.items()
        if all(is_defined(ord(c)) for c in s + "".join(icu[s]))
    }
    assert not unexplained, sorted(unexplained.items())[:10]
    assert not set(differ) & set(WORDS), sorted(set(differ) & set(WORDS))
    assert default["straße"] == ("straße", "STRASSE")
