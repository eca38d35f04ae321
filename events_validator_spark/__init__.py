"""events_validator_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-expression of the capabilities of the reference validator
(defuseddata/events-validator, a GCP serverless per-event JSON validator) as a
distributed, columnar, Catalyst-optimized Spark engine:

* rule specs (the reference's JSON schema grammar,
  /root/reference/validator_src/helpers/validationHelpers.js:130-164) compile on the
  driver into trees of vectorized ``pyspark.sql.Column`` expressions — one pass over
  all rows, no per-row Python;
* per-column stats (count/null/min/max, HLL distinct, approximate quantiles) are
  assembled into a single ``df.agg(...)`` scan;
* uniqueness and referential integrity are salted aggregations / broadcast anti-joins;
* distribution drift (histogram + PSI / KS) compares a current profile against a
  baseline profile with native aggregates (``percentile_approx`` quantile
  sketches) and SQL comparators — no Python worker;
* training-data-pipeline operators (dedup exact/MinHash-LSH/SimHash, ANN similarity
  search, text quality / language-id / tokenization, multimodal binary plumbing)
  round out the engine for 100 TB-scale corpus work.

Layout:
    functions/   JS-semantics compatibility shims (typeof / toString / regex), misc
    operators/   validation, stats, uniqueness, referential, drift, dedup,
                 similarity, text, multimodal, analytics
    sources/     deterministic synthetic interleaved-docs generator, table IO
    plans/       end-to-end validation pipeline, resume from stamped commits
    streaming/   Structured Streaming wrapper (foreachBatch over the same pass)
"""

__version__ = "0.1.0"
