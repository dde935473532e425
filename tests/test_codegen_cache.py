"""Warm refresh cycles reuse the classes Spark compiled for the cycle
before them, instead of compiling them again after the codegen cache
evicted them."""

from __future__ import annotations

from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
from nomba_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles
from tests.conftest import SF_SMALL
from tests.test_write_gate import _cycle


def test_warm_refreshes_reuse_compiled_classes(spark, tmp_path):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    wh = str(tmp_path / "wh")
    build_pipeline(spark, wh, SF_SMALL).run()
    compiles = []
    for k in (1, 2, 3):
        before = codegen_compiles(spark)
        build_pipeline(spark, wh, SF_SMALL, source_override=_cycle(k)).run()
        compiles.append(codegen_compiles(spark) - before)
    # with Spark's 100-entry default every refresh compiled about 195
    # classes; the third one here recompiles only the classes whose code
    # changed (a new high-water-mark literal, renumbered stage ids)
    assert compiles[2] <= compiles[0] / 2, compiles
