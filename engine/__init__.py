"""spark-mvt engine. Importing the package installs ``zipcache`` (CPython
< 3.13), so a reused Python worker that has unpickled any engine UDF stops
re-reading pyspark.zip and the spark-core jar before each task."""

from engine import zipcache as _zipcache

_zipcache.install()
