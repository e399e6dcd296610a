"""opentopodata_spark — a PySpark-native batch elevation + spatial-join engine.

Re-expresses the computation semantics of ajnisbet/opentopodata (a Flask
point-elevation REST server) as a Spark DataFrame / Arrow-vectorized
dataflow over tables of documents that carry coordinates.

This is NOT a port: the reference's per-request Python loops become
declarative DataFrame plans (one shuffle of points by spatial cell, then
one mapInArrow sampler that runs the reference's dataset-priority loop
per Arrow batch), designed for 1000-executor / 100 TB scale while
matching the reference's elevation values and tile assignments
bit-for-bit (see tests/).

Subpackages / modules
---------------------
geotiff        pure-numpy GeoTIFF writer + memory-mapped windowed reader
crs            vectorized WGS84 -> UTM / LAEA / WebMercator transforms
geodesic       Karney geodesic (direct/inverse) + path sampling
polyline_codec Google encoded-polyline decode/encode
interpolate    GDAL-parity nearest/bilinear/cubic samplers w/ NODATA rules
config         YAML config loading + dataset registry (driver-side)
tiles          tile-index build (filename -> corner) + tile-key column math
oracle         single-process reference-semantics implementation (test oracle)
operators.*    the Spark operators (extract, elevation resolve, paths, knn
               and range joins, S2 and point-in-polygon joins, and the
               raster<->vector operators: zonal, polygonize, rasterize,
               burn; DEMs arrive prepared, e.g. by gdalwarp, so there is
               no warp, resample or tile-export operator)
lineage        per-partition lineage checkpoint + anti-join resume
session        SparkSession builder helpers
"""

__version__ = "0.1.0"
