"""Training-data corpus operators: dedup, text analysis, similarity.

These extend the log-pipeline engine with the operations a large-scale
training-data pipeline needs over document/embedding tables — all
expressed as DataFrame programs (JVM expressions wherever possible,
Arrow-batched pandas UDFs otherwise), designed for 100 TB inputs:
shingle/minhash/LSH banding turns the quadratic near-dup problem into
an equi-join on band keys; embedding ANN buckets via random
hyperplanes; nothing collects to the driver.
"""

from beats_spark.corpus import dedup, hashing, similarity, textstats  # noqa: F401
