"""Session-factory invariants: the scale-critical configs stay set and
consistent with each other (these interact — the RDD default is pinned
SMALL for driver-local relations, so distributed paths must size from
the SQL configs instead)."""

from datacatalog_tag_engine_spark.session import local_df


def test_scale_critical_configs(spark):
    cpus = spark.sparkContext.master.split("[")[1].rstrip("]")
    n = 32 if cpus == "*" else int(cpus)
    # LIMIT probes run one cluster-sized wave, not the 1-then-4x ramp
    assert int(spark.conf.get("spark.sql.limit.initialNumPartitions")) == n
    # SQL-side leaves keep cluster width via the conf; PySpark's
    # range() bypasses it (fills numSlices from the RDD default), so
    # synthetic inventories pass an explicit width
    assert int(spark.conf.get("spark.sql.leafNodeDefaultParallelism")) == n
    assert spark.range(0, 10_000, 1, n).rdd.getNumPartitions() == n
    # the RDD default for driver-local data is pinned small
    assert spark.sparkContext.defaultParallelism == max(4, n // 4)
    # and AQE + UTC + Arrow stay on (oracle comparability + scale)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_local_df_slices_by_size(spark):
    from datacatalog_tag_engine_spark.model.schemas import TAGS_SCHEMA

    few = local_df(spark, [("a", None, "t", "f", "string", None, None, None, None, None, None)], TAGS_SCHEMA)
    assert few.rdd.getNumPartitions() == 1
    many = local_df(spark, [(i,) for i in range(9000)], "id long")
    assert many.rdd.getNumPartitions() == 3


def test_local_df_rejects_unknown_keys(spark):
    import pytest

    from datacatalog_tag_engine_spark.model.schemas import TAGS_SCHEMA

    with pytest.raises(ValueError, match="not in schema"):
        local_df(spark, [{"asset_urii": "typo"}], TAGS_SCHEMA)


def test_local_df_dict_rows_with_ddl_schema(spark):
    df = local_df(spark, [{"id": 7}, {"id": None}], "id long")
    assert [r["id"] for r in df.orderBy("id").collect()] == [None, 7]
    import pytest

    with pytest.raises(ValueError, match="not in schema"):
        local_df(spark, [{"idd": 1}], "id long")


def _vm_option(spark, name):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_driver_jit_options_reach_the_jvm(spark):
    # Spark launches the driver with -XX:+IgnoreUnrecognizedVMOptions, so
    # a misspelt flag would be dropped silently: read each value back
    from datacatalog_tag_engine_spark.session import DRIVER_JIT_OPTIONS

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == DRIVER_JIT_OPTIONS
    # extraJavaOptions stays the caller's, so their flags win on conflict
    assert "Tier4" not in (conf.get("spark.driver.extraJavaOptions") or "")
    flags = dict(f.removeprefix("-XX:").split("=") for f in DRIVER_JIT_OPTIONS.split())
    assert len(flags) == 4
    for name, value in flags.items():
        assert _vm_option(spark, name) == value, name


def test_caller_java_options_win_over_driver_jit_options():
    # a fresh JVM: the caller's --driver-java-options (extraJavaOptions)
    # reach the driver and override the factory's defaults
    import json
    import os
    import subprocess
    import sys

    script = """
import json
from datacatalog_tag_engine_spark.session import get_spark
from tests.test_session_config import _vm_option
spark = get_spark("jit-probe", shuffle_partitions=1)
print(json.dumps({
    "probe": spark._jvm.java.lang.System.getProperty("tag.engine.probe"),
    "invocation": _vm_option(spark, "Tier4InvocationThreshold"),
    "backedge": _vm_option(spark, "Tier4BackEdgeThreshold"),
}))
spark.stop()
"""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEMORY="512m",
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            "'-Dtag.engine.probe=on -XX:Tier4InvocationThreshold=12345' pyspark-shell"
        ),
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"probe": "on", "invocation": "12345", "backedge": "400000"}
