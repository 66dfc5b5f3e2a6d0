"""The Python-UDF surface (SURVEY.md §2B ``udf_surface``): one example
of each Arrow-batched extension point, all numpy-vectorized —

- scalar ``pandas_udf``          (row-wise compute, Arrow transfer)
- grouped-agg ``pandas_udf``     (UDAF shape)
- ``applyInPandas``              (grouped map / UDTF-ish)

These are the SLOW PATH by policy: everything expressible with built-in
functions elsewhere in this repo uses them; the UDFs exist for kernels
Catalyst cannot express (numpy linear algebra, external libs). Each
one's semantics are pinned by an equivalent-built-in test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..boundary import install


# UDF objects are built lazily: @pandas_udf parses its DDL type against
# the ACTIVE session, and queries() must be constructible session-free.

def vector_norm_udf():
    @pandas_udf("double")
    def _norm(emb: pd.Series) -> pd.Series:
        """Scalar pandas UDF: L2 norm per row, one numpy call per batch."""
        install()
        m = np.array(emb.tolist(), dtype=np.float64)
        return pd.Series(np.sqrt((m * m).sum(axis=1)))

    return _norm


def mean_vector_udaf():
    @pandas_udf("array<double>")
    def _mean(emb: pd.Series) -> list:
        """Grouped-agg pandas UDF (UDAF): element-wise mean vector."""
        install()
        m = np.array(emb.tolist(), dtype=np.float64)
        return m.mean(axis=0).tolist()

    return _mean


def label_centroids_applyinpandas(points: DataFrame) -> DataFrame:
    """applyInPandas: per-label centroid + count + mean norm (the numpy
    flavor of the K-Means CentroidAccumulator/Averager pair)."""
    schema = "label int, n long, centroid_norm double"

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        install()
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        c = m.mean(axis=0)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n": [len(pdf)],
                "centroid_norm": [float(np.sqrt((c * c).sum()))],
            }
        )

    return points.groupBy("label").applyInPandas(per_group, schema)


def deflate_len_udf():
    @pandas_udf("long")
    def _zlen(s: pd.Series) -> pd.Series:
        """Scalar pandas UDF: deflate(level 6) byte length per row.
        zlib is C-speed and releases the GIL; Arrow transfer dominates."""
        install()
        import zlib

        # NULL text must not fail the whole Arrow batch (ADVICE r6):
        # map None -> None so the column stays nullable-long.
        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t is not None else None
        )

    return _zlen
