"""linkgraph — a from-scratch PySpark-native link-graph analytics engine.

Capability parity target: jy-yuan/sampling-graph-mining (ZGraph, an ASAP
[OSDI'18] implementation) — see SURVEY.md.  The architecture is
DataFrame/SQL-first (Catalyst + Tungsten pick physical strategies); the
reference supplies operator *semantics* only.  The pure numpy/python
ground-truth oracles live with the tests (tests/oracles.py), so the
shipped package carries none.

Layout:
  session    — pinned SparkSession factory
  datagen    — deterministic synthetic Common-Crawl-style pages fixture
  ingest     — html -> outlinks (vectorized pandas UDFs), url densification
  graph      — LinkGraph: edge table + degrees/adjacency/sample/filter
  ckpt       — per-iteration checkpoint/resume with metrics lineage
  algos      — pagerank, components, labelprop, triangles, motifs
  textops    — lang-id, quality, tokens, fingerprints over documents
  dedup      — exact / minhash-LSH / simhash / n-gram-jaccard dedup
  simsearch  — brute-force + LSH cosine top-k over embeddings
"""

__version__ = "0.1.0"
