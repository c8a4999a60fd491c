"""The Green Button / ESPI pipeline: XML Atom feeds -> normalized tables
-> denormalized TimeSeries -> {csv, parquet, influx} sinks.

Spark-first layout (contrast with the reference's single-pass Rust loop,
lib/personalgreenbutton/src/lib.rs:32-233):

    parser    pure-Python per-file XML parse; the one owner of
              fail-the-file (a failed file yields one error row only)
    schemas   fixed StructTypes for the parse output + TimeSeries
    source    the one Spark read path: binaryFile scan -> parser inside
              mapInPandas -> union-typed parse-output DataFrame
    enum_dim  the one owner of the XSD enum dictionary (maps, decode
              expression, parquet dim)
    dst       DST/tz rule evaluation as native Catalyst expressions
    pipeline  denormalize_and_link as declarative joins + projections
    fastpath  the same parse + denormalize for one file, without Spark
"""

__all__ = [
    "denormalize_and_link",
    "denormalize_with_errors",
    "espi_ingest",
    "timeseries_from_files",
]


def __getattr__(name: str):
    # Lazy re-exports (PEP 562): the pipeline module imports pyspark,
    # but the pure-Python submodules (parser, fastpath) must stay
    # importable without it — the CLI fast path converts a single
    # small file in <200 ms, far less than a pyspark import.
    if name in __all__:
        from . import pipeline

        return getattr(pipeline, name)
    raise AttributeError(name)
