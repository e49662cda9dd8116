"""refine_spark — a PySpark-native near-duplicate detection & clustering engine.

Brand-new implementation (NOT a port) with the query/data-processing
capabilities of the reference `rsalmei/refine` (v3.0.0, Rust), re-expressed
Spark-first: DataFrame/Catalyst logical plans, vectorized pandas/Arrow UDFs
for the few non-SQL kernels, iterative connected-components over edge
DataFrames for clustering, and LSH-band self-joins for candidate generation.

Package map (SURVEY.md §7.1):
    config.py       fixed algorithm constants (reference parity)
    session.py      SparkSession factory tuned for local[N] testing
    worker_daemon.py  Python worker daemon: per-task zip re-reads skipped
    schema.py       declared StructTypes per pipeline stage
    synth.py        deterministic synthetic Common-Crawl-style documents
    scan.py         source load + fetch filters + filename/collection grammar
    clean.py        name cleaning / tokenization / kind classification
    exact.py        3-point sample hashing + exact duplicate groups
    signatures.py   MinHash + SimHash signature pUDFs
    candidates.py   LSH banding self-join + token-blocking candidate pairs
    scoring.py      levenshtein/dice/rare-token pair scoring
    cluster.py      iterative connected components + sequential-group filter
    substring.py    winnowing fingerprints for long-substring duplicates
    pipeline.py     end-to-end dedup pipeline + metrics
    naming.py       regex rewrite rule engine (strip/replace/throw)
    rebuild.py      grouping + representative-name election + seq regen
    rename_join.py  clash detection / resolution plans
    listing.py      natural sort key + directory aggregates
    probe.py        name dedup + batched external probe (retry/backoff)
    universe.py     dir-row universe: the four traversal modes (S3)
    checkpoint.py   per-stage checkpoint/resume + metrics tables
    analysis.py     text analysis: lang-id, quality, tokens, fingerprints
    simsearch.py    embedding similarity search (brute-force + LSH buckets)
"""

__version__ = "0.1.0"
