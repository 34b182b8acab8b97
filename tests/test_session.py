"""Session-wide pins set by kgspark.session.get_spark."""

from kgspark.session import CODEGEN_CACHE_ENTRIES


def test_jvm_locale_is_pinned_to_english(spark):
    """JVM case folding follows the default locale; get_spark pins it so
    the JVM lowercases like the locale-free Python stages."""
    locale = spark._jvm.java.util.Locale.getDefault()
    assert locale.getLanguage() == "en"
    assert locale.getCountry() == "US"


def test_codegen_cache_is_sized_for_a_pipeline_run(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
