"""stac_populator_spark — a from-scratch PySpark-native STAC-population +
spatial-join engine.

Reimagines crim-ca/stac-populator's per-item HTTP ingest loop
(/root/reference/STACpopulator/populators.py:257-305) as declarative Spark
DataFrame pipelines: vectorized Arrow/pandas UDFs parse Common-Crawl-style
web pages into STAC-Item-shaped records, encode them into S2 level-12 and
H3-res-7-compatible hex cells, and run broadcast point-in-polygon joins,
kNN matching and raster-tile assignment — with salted skew-aware shuffles,
AQE-tuned partitioning, snapshot-checkpoint resumability and per-partition
lineage metrics.

Everything here is built from public knowledge only: the PySpark API, the
reference repo's observable behavior, and published S2/Hilbert-curve math.
"""

__version__ = "0.1.0"

from . import zipguard as _zipguard

# Spark's Python workers import this package when they unpickle an engine
# kernel: from then on they skip re-reading unchanged zip archives before
# each task (see zipguard)
_zipguard.install()
