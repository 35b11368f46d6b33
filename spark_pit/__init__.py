"""spark_pit — a from-scratch PySpark-native point-in-time feature-engineering engine.

Re-expresses the query/data-processing capabilities of the reference repo
(Binyun-Z/Protein-feature-engineering, read-only at /root/reference) as
idiomatic Spark DataFrame plans:

- point-in-time (as-of) joins, lag/lead windows, gap sessionization, backfill
  (the reference's per-sequence position axis mapped to an event-time axis;
  see SURVEY.md, "Re-targeting contract")
- the reference's descriptor families (composition, k-spaced pairs,
  sliding-window composition, autocorrelation, distribution) as window/agg
  plans and vectorized applyInPandas kernels
- training-data-pipeline operators: dedup (exact / minhash-LSH / simhash /
  jaccard), ANN similarity search, text quality stats, multimodal (image)
  payload decode + feature extraction

Design principles (SURVEY.md §4): declare plans with the DataFrame API and
let Catalyst optimize; keep kernels vectorized NumPy inside Arrow UDFs (no
per-row Python); never shuffle the `bytes` payload column; broadcast all
dimension/lookup tables.
"""

__version__ = "0.1.0"

from spark_pit import _zipimport  # noqa: F401  (zip importers re-read only changed archives)
from spark_pit.session import get_spark  # noqa: F401
