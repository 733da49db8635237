"""PySpark-native time-series rollup + downsample + retention engine.

A from-scratch engine with the query/data-processing capabilities of
EOA-team/sentinel2_crop_trait_timeseries (dense trait time-series
reconstruction from sparse observations), re-expressed Spark-first:

- input: table of pre-tokenized sequences
  ``(doc_id string, tokens array<int>, n_tok int, source string)``
- decode: tokens -> irregular ``(source, doc_id, ts, value)`` observations
  (pure column expressions, no shuffle)
- gap-fill: dose-response-driven reconstruction between observations
  (vectorized numpy inside ``mapInArrow`` -- one sequence row already
  holds a full per-doc series, so the per-doc stage needs NO shuffle;
  each doc's points return as Arrow lists, exploded JVM-side)
- rollup: hourly/daily/weekly retention tiers, cascaded re-aggregation
- compression: Gorilla delta-of-delta timestamps + XOR values
- manifest: per-partition lineage/metrics, left-anti-join resume

Architecture notes (scale): shuffles appear only at cross-doc
aggregation boundaries (source-level continuous aggregates), which are
partial-agg (map-side combine) friendly. Skewed ``source`` keys are
salted; AQE handles residual skew.
"""

__version__ = "0.1.0"
