"""Thematic extension-catalog modules. Each registers its queries into
``_shared.EXTRA_QUERIES`` at import; ``plans.catalog`` imports all of
them and merges the registry into ``QUERIES`` in registration order.

- ``ext_text``       tokenization, BPE, dedup spans, collocations,
                     search, quality gates
- ``ext_ml``         clustering, embeddings/ANN, eval metrics, encodings,
                     CV splits, attribution
- ``ext_stats``      hypothesis tests, robust stats, time series,
                     sketches, drift
- ``ext_graph``      pagerank family, components, k-core/k-truss, MST,
                     walks, centrality
- ``ext_stream``     streaming windows/joins/dedup, CDC
- ``ext_lakehouse``  snapshot table ops, pipelines, scan roundtrips,
                     audits
- ``ext_containers`` binary/multimodal container walks (PNG/JPEG/GIF/
                     ZIP/WAV/TIFF/PCM)
- ``ext_misc``       privacy audits, spatial joins, skew ops, funnels
"""
