"""PySpark facade for the graft engine.

The reference's audience writes Python; this module makes the graft
operator library callable from a stock ``pyspark`` session whose JVM
has the graft classes on the classpath::

    spark-submit --jars graft.jar my_job.py
    # or for a local checkout:
    #   --conf spark.driver.extraClassPath=<repo>/target/scala-2.13/classes

    import graft_py as g
    spark = g.session(cpus=8)
    g.query_names(spark)                       # the SURVEY 2.B surface
    df = g.run(spark, "q_dedup_minhash", "/root/testdata/sf0.01")
    df.show()

Everything crosses py4j as Java-friendly types only (the Scala side is
``graft.PyBridge``); returned frames are ordinary pyspark DataFrames,
so they compose with any downstream pyspark code.
"""

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession


def engine_conf(launch_conf=None):
    """The session conf the engine's scale story depends on, read from
    graft.GraftSession.conf (see that scaladoc for the per-knob why).

    Starts the driver JVM first if none runs yet, with ``launch_conf``
    (a dict): settings such as ``spark.driver.extraClassPath`` take
    effect only at JVM launch."""
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll((launch_conf or {}).items()))
    return dict(SparkContext._jvm.graft.PyBridge.engineConf())


def session(cpus=4, partitions=0, app="graft", extra_conf=None):
    """Build a local engine session (cluster users: apply engine_conf()
    and ``spark.sql.extensions=graft.functions.GraftExtensions`` at
    submit time instead)."""
    extra = extra_conf or {}
    b = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    b = b.config("spark.sql.shuffle.partitions",
                 str(partitions if partitions > 0 else cpus))
    for k, v in {**engine_conf(extra), **extra}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    install(spark)
    return spark


def install(spark):
    """Register the engine's native functions, strategies and optimizer
    rules on an existing session (idempotent)."""
    spark._jvm.graft.PyBridge.install(spark._jsparkSession)


def query_names(spark):
    """All registered operator queries (sorted)."""
    return list(spark._jvm.graft.PyBridge.queryNames())


def run(spark, name, sf_dir):
    """Run one registered operator query over a testdata-layout dir;
    returns a pyspark DataFrame."""
    jdf = spark._jvm.graft.PyBridge.runQuery(spark._jsparkSession, name, sf_dir)
    return DataFrame(jdf, spark)


def entry(spark):
    """The flagship DPP-orchestrated entry query."""
    return DataFrame(spark._jvm.graft.PyBridge.entry(spark._jsparkSession), spark)


def oracle_sql(spark, name):
    """DuckDB-equivalent oracle SQL for a query (None when the query is
    hash-/approx-dependent and has no SQL oracle by design)."""
    return spark._jvm.graft.PyBridge.oracleSql(name)
