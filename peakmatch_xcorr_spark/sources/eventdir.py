"""Reference event-directory source: one event per file, one ASCII
float per line (README.md:166-178), scanned distributed.

``read_event_dir`` = S1/S3: spark.read.text over the directory with
input_file_name(), per-file assembly under line order, the int-cast
quantization and truncate/zero-pad semantics of BasicEvent.java:40-56
(delegated to kernels.signal.ingest_values), and the featurization in
the same pass.  Bad files (too few peaks) follow the
continue-on-error policy (Util.java:176-177) as ok=false rows.

Line order: spark.read.text preserves intra-file order only within a
split; we read with one split per file (files are small by contract)
by grouping on filename and sorting by a per-file line index captured
via zipWithIndex-free monotonically-increasing ids within partitions.
For robustness we instead parse each whole file inside mapInPandas
over (file, content) rows from ``binaryFile`` — simpler and exactly
ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.config import PeakmatchConf
from peakmatch_xcorr_spark.operators.features import FEATURE_SCHEMA


def read_event_dir(
    spark: SparkSession, path: str, conf: PeakmatchConf
) -> DataFrame:
    """Directory of reference-format event files → featurized events
    (same schema as conversation features; conv_id = filename)."""
    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        import os

        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels.signal import featurize, ingest_values

        for pdf in batches:
            out = {
                "conv_id": [], "series": [], "max_peaks": [], "min_peaks": [],
                "above_idx": [], "peak_amp": [], "n_peaks": [], "ok": [],
            }
            def bad_row(name):
                out["conv_id"].append(name)
                out["series"].append(np.zeros(0))
                out["max_peaks"].append(np.zeros(0, np.int32))
                out["min_peaks"].append(np.zeros(0, np.int32))
                out["above_idx"].append(np.zeros(0, np.int32))
                out["peak_amp"].append(float("nan"))
                out["n_peaks"].append(0)
                out["ok"].append(False)

            for r in pdf.itertuples(index=False):
                name = os.path.basename(r.path)
                # parse INSIDE the continue-on-error boundary: one
                # malformed or blank line marks THIS file ok=false (a
                # blank line must not silently shift later samples one
                # index earlier — it would move every peak offset).
                # decode strict, NOT 'ignore': stripping a corrupt byte
                # from inside a number ('12\\xb34' -> '124') would feed
                # a silently WRONG sample through the ok=true path,
                # where the reference's Double.parseDouble throws
                try:
                    lines = bytes(r.content).decode("ascii").splitlines()
                    vals = [float(line.strip()) for line in lines[: conf.expected_len]]
                except (UnicodeDecodeError, ValueError):
                    bad_row(name)
                    continue
                raw = ingest_values(
                    np.asarray(vals), conf.expected_len, conf.int_cast_ingest
                )
                try:
                    f = featurize(raw, conf, pre_ingested=True)
                except ValueError:
                    bad_row(name)
                    continue
                out["conv_id"].append(name)
                out["series"].append(f.series)
                out["max_peaks"].append(f.max_peaks)
                out["min_peaks"].append(f.min_peaks)
                out["above_idx"].append(f.above_idx)
                out["peak_amp"].append(f.peak_amp)
                out["n_peaks"].append(f.n_peaks)
                out["ok"].append(True)
            if out["conv_id"]:  # zero-row input batch: empty frames mistype array cols
                yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(parse, schema=FEATURE_SCHEMA)

