"""Pure numpy spatial kernels: projection, cells, Hilbert, PIP, kNN, clip, raster."""

from . import mercator, cells, hilbert, pip, knn, clip, raster

__all__ = ["mercator", "cells", "hilbert", "pip", "knn", "clip", "raster"]
