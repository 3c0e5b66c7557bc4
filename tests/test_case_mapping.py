"""``lower``/``upper`` run through the JVM's case mapper, not ICU's
(``spark.sql.icu.caseMappings.enabled`` off in ``session.SQL_DEFAULTS``),
in a driver JVM pinned to the en-US locale: generated code calls the
binary case mapping, the letters the two mappers disagree on map as in
DuckDB, and an ``I`` in a non-ASCII string lowercases to ``i``."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.session import SQL_DEFAULTS

# Unicode 14-16 letters that JDK 17 does not case-map and ICU 77 does
NEW_LETTERS = ["\u2c2f", "\ua7c0", "\ua7cb", "\u019b", "\U00010570"]


def test_session_maps_case_without_icu_in_en_us(spark):
    assert SQL_DEFAULTS["spark.sql.icu.caseMappings.enabled"] == "false"
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    system = spark.sparkContext._jvm.java.lang.System
    assert (system.getProperty("user.language"), system.getProperty("user.country")) == ("en", "US")


def test_generated_code_calls_the_binary_case_mapping(spark):
    (plan,) = spark.sql(
        "EXPLAIN CODEGEN SELECT lower(s), upper(s) FROM (SELECT CAST(id AS STRING) AS s FROM range(3))"
    ).collect()[0]
    for fn in ("Lower", "Upper"):
        assert f"CollationSupport.{fn}.execBinary(" in plan
        assert f"CollationSupport.{fn}.execBinaryICU(" not in plan


def _mapped(spark, words):
    # repartition keeps the projection out of the optimizer's local
    # relation folding, so it runs in generated code
    df = spark.createDataFrame([(w,) for w in words], "s string").repartition(1)
    rows = df.select("s", F.lower("s").alias("lo"), F.upper("s").alias("up")).collect()
    return {r["s"]: (r["lo"], r["up"]) for r in rows}


@pytest.mark.parametrize("letter", NEW_LETTERS, ids=lambda c: f"U+{ord(c):04X}")
def test_letters_new_since_jdk17_map_as_in_duckdb(spark, letter):
    words = [letter, letter.upper() + letter.lower() + "x"]
    got = _mapped(spark, words)
    for w in words:
        assert got[w] == duckdb.execute("SELECT lower($1), upper($1)", [w]).fetchone()


def test_dotted_i_in_a_non_ascii_string(spark):
    assert _mapped(spark, ["IÑIGO", "iñigo"]) == {
        "IÑIGO": ("iñigo", "IÑIGO"),
        "iñigo": ("iñigo", "IÑIGO"),
    }
