"""Relational and data-pipeline operators.

Each module maps a section of SURVEY.md §2 to DataFrame plans:

- ``titles``       the flagship preferences→titles semi-join (J1), the
                   recommendations variant (P5), index build (J2).
- ``preferences``  preference reads (S4) and delta merges (J5/SO2).
- ``analytics``    admin/observability aggregations (A1-A6, W1/W2, P7/P8).
- ``dedup``        exact + near-duplicate detection over documents.
- ``similarity``   embedding similarity search (brute force, LSH, IVF
                   cells, PQ/ADC, residual IVF-PQ, OPQ).
- ``text``         language-ID, quality scoring, tokenization, fingerprints.
- ``multimodal``   binary-column plumbing with a deterministic stand-in codec.
- ``layout``       Z-order clustering and Bloom runtime filters.
"""
