"""The parquet table opener (SURVEY §2 #41).

Schema inference is a Spark job per read. Parquet tables carry their
schema in the file footers, so :func:`read_parquet` infers it once and
memoizes it per path (see there). The streaming file sources live in
``streaming/jobs.py``; the reference's PostgreSQL path is a sink
(``sinks/writers.write_jdbc``).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# path -> (signature, inferred schema); see read_parquet
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def file_signature(spark: SparkSession, path: str) -> tuple | None:
    """What a read of ``path`` depends on: every file under it as
    (name, length, modificationTime), plus the schema inference confs.
    Any rewritten or touched file changes it, so it also keys state
    derived from the table's data. None when the path cannot be listed
    (missing, a glob): the caller then reads as usual and lets Spark
    raise its error."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        it = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(hpath, True)
        files = []
        while it.hasNext():
            st = it.next()
            files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    except Py4JJavaError:
        return None
    return tuple(sorted(files)), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """The parquet table opener, with a memo of inferred schemas.

    ``spark.read.parquet(path)`` runs a Spark job to read a footer every
    time it infers a schema; a dashboard that reopens one table per
    panel pays that job per panel. So the schema is memoized per path,
    keyed by a signature: each file's (name, length, modificationTime)
    from a recursive Hadoop listing, plus the values of the confs in
    ``_INFERENCE_CONFS``. While the signature holds, the read passes the
    memoized schema (``spark.read.schema(s).parquet``), which starts no
    job. Any added, removed, rewritten or touched file, or a flipped
    conf, is a miss: the schema is inferred as before and replaces that
    path's entry. One entry per path, so the memo grows with the number
    of distinct tables opened, not with the number of reads."""
    sig = file_signature(spark, path)
    hit = _SCHEMAS.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if sig is not None:
            _SCHEMAS[path] = (sig, df.schema)
    return df.select(*columns) if columns else df

