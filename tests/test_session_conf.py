"""Session-level configuration contracts.

The r10 JIT-code-cache finding (session.py: ReservedCodeCacheSize +
codegen class cache) is an OPERATIONAL fix, so these tests pin it in
conf, not just in a comment: local mode's driver==executor masks a
missing executor-side flag today, but on a real cluster the hot
whole-stage-codegen loops run in executor JVMs — the flag must ship on
both sides or the flush pathology returns exactly where it matters.
"""

from australia_company_etl_pipeline_spark.session import _DEFAULTS


def test_code_cache_flag_on_both_jvms():
    for side in ("driver", "executor"):
        opts = _DEFAULTS[f"spark.{side}.extraJavaOptions"]
        assert "-XX:ReservedCodeCacheSize=512m" in opts, side


def test_codegen_class_cache_enlarged():
    # 100-entry default evicts every class across a 22-query rotation
    # (~200+ distinct codegen stages); see session.py for the measured
    # 4s -> 110s swing the default caused.
    assert int(_DEFAULTS["spark.sql.codegen.cache.maxEntries"]) >= 3000


def test_codegen_class_name_id_disabled():
    # AQE numbers a wide fold's codegen stages in nondeterministic
    # order; with codegenStageId in the class name the cache (keyed on
    # full source text) misses on identical bodies — measured 66-80
    # fresh Janino compiles PER REP at steady state on the 9-branch
    # doc_search_bm25 fold, zero with the id disabled (session.py).
    assert _DEFAULTS["spark.sql.codegen.useIdInClassName"] == "false"


def test_dataframe_debugging_disabled():
    # PySpark 4's per-call origin capture (call-site enrichment for
    # error messages) costs three py4j round trips + a stack walk on
    # EVERY Column/DataFrame API call — measured 1.31 -> 0.64 ms/op and
    # ~33% off the widest folds' driver-side build time (session.py).
    assert _DEFAULTS["spark.python.sql.dataFrameDebugging.enabled"] \
        == "false"


def test_live_session_carries_code_cache_conf(spark):
    # the conftest session is built through get_spark, so the conf must
    # be visible on the live session for both JVM sides
    for side in ("driver", "executor"):
        v = spark.conf.get(f"spark.{side}.extraJavaOptions")
        assert "-XX:ReservedCodeCacheSize=512m" in v, side


def test_escaped_string_literals_pinned_default():
    # The url SQL templates (urls.py _sq) escape string literals for
    # the DEFAULT parser mode; a session flipped to the legacy
    # escapedStringLiterals=true would parse their regexes differently
    # and silently diverge from the DuckDB oracle's regexes (r11
    # advice). The default is pinned explicitly so a stray
    # spark-defaults.conf can't flip it under the engine.
    assert _DEFAULTS["spark.sql.parser.escapedStringLiterals"] == "false"
