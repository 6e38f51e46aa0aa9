"""The engine's Parquet codec policy through the PySpark facade.

``graft_py.engine_conf()`` reads ``graft.GraftSession.conf``, so a
``graft_py.session()`` writes zstd Parquet pages like a Scala session
does; a per-write ``compression`` option still overrides the default.
Checked from the written files' footers with pyarrow.

Run from a stock pyspark (graft classes compiled first)::

    cd python && python3 test_engine_codec.py
"""
import glob
import os
import sys
import tempfile

import pyarrow.parquet as pq

import graft_py as g

REPO_CLASSES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "target", "scala-2.13", "classes")
CODEC = "spark.sql.parquet.compression.codec"


def codecs(path):
    """The codec of every column chunk of every parquet file under `path`."""
    out = set()
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            out |= {rg.column(j).compression for j in range(rg.num_columns)}
    return out


def main():
    launch = {"spark.driver.extraClassPath": REPO_CLASSES}
    conf = g.engine_conf(launch)
    assert conf.get(CODEC) == "zstd", f"engine_conf() {CODEC} = {conf.get(CODEC)}"
    spark = g.session(cpus=2, extra_conf=launch)
    try:
        assert spark.conf.get(CODEC) == "zstd"
        df = spark.range(2000).selectExpr("id", "concat('doc ', id % 97) AS text")
        with tempfile.TemporaryDirectory(prefix="graft_codec_py_") as tmp:
            dflt, snappy = os.path.join(tmp, "default"), os.path.join(tmp, "snappy")
            df.write.parquet(dflt)
            df.write.option("compression", "snappy").parquet(snappy)
            assert codecs(dflt) == {"ZSTD"}, codecs(dflt)
            assert codecs(snappy) == {"SNAPPY"}, codecs(snappy)
            assert spark.read.parquet(dflt).count() == 2000
            assert spark.read.parquet(snappy).count() == 2000
    finally:
        spark.stop()
    print("OK engine codec: engine_conf zstd, session write zstd, per-write snappy")


if __name__ == "__main__":
    sys.exit(main())
