"""peakmatch_xcorr_spark — a PySpark-native time-series rollup /
downsample / retention engine with peakmatch-pruned cross-correlation
dedup, built from scratch against the computational semantics of the
reference engine (github.com/simonrodgers/peakmatch-xcorr).

Layout
------
- ``kernels``    pure-numpy numeric kernels (reference-parity quirks live
                 here and ONLY here; everything Spark-side wraps these)
- ``operators``  DataFrame-level operators (featurize, pair-gen, rollup,
                 gap-fill, dedup, similarity, text stats, clustering)
- ``sources``    table layer (parquet warehouse with Iceberg-style
                 snapshot/manifest semantics, reference event-dir reader)
- ``streaming``  Structured Streaming variants of the rollup path
"""

__version__ = "0.1.0"

import sys as _sys  # noqa: E402

# Inside a PySpark Python worker (the daemon imports pyspark.worker before
# it forks one) stop each task's importlib.invalidate_caches() from
# re-reading unchanged zip archives; the driver is left as it is.
if "pyspark.worker" in _sys.modules:
    from peakmatch_xcorr_spark import _zipimport

    _zipimport.install()

# numpy-only re-exports (no pyspark import cost at package import time;
# Spark operators are imported explicitly from .operators / .sources)
from peakmatch_xcorr_spark.config import DEFAULT_CONF, EngineConf, PeakmatchConf  # noqa: E402,F401
from peakmatch_xcorr_spark.kernels import (  # noqa: E402,F401
    EventFeatures,
    brute_force_xcorr_best,
    featurize,
    fft_xcorr,
    fft_xcorr_best,
    get_highest,
    peakmatch_best,
    prepare_ffts,
)

