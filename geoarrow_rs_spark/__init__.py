"""geoarrow_rs_spark — a PySpark-native geospatial + data-pipeline analytics
engine with the capabilities of geoarrow/geoarrow-rs (reference at
/root/reference, surveyed in SURVEY.md).

Canonical geometry form: WKB ``BinaryType`` columns; bbox covering columns are
``struct<xmin,ymin,xmax,ymax: double>`` (SURVEY.md §1.3). Geometry kernels are
Arrow-vectorized pandas UDFs over a pure-numpy WKB engine (``wkb/``), because
the runtime has no shapely/GEOS. All relational capability is native Spark.
"""

__version__ = "0.1.0"

from ._pyworker import install_in_worker as _install_in_worker

# unpickling any package UDF imports this package, so a Python worker's
# tasks after its first skip the eager zip re-reads and the full-heap
# collection walk over import-time objects (see _pyworker)
_install_in_worker()


def register_all(spark):
    """Register every ST_* / pipeline function for SQL + Column use, plus
    the Python data sources (format('flatgeobuf'))."""
    from .functions.registry import register_functions
    from .io.datasource import register_datasources

    register_functions(spark)
    register_datasources(spark)
    return spark
