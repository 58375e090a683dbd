"""Relational + pipeline operators (SURVEY §2.4–§2.7 and the scale layer).

Each module exposes DataFrame → DataFrame combinators:

- ``filters``    — panel semi-join (F1), composite condition predicates (F2),
                   conditional null updates (F3), watermark gates (F4/F5),
                   retention windows (F6)
- ``joins``      — broadcast dimension lookups (J2/J3), the date→period
                   range join (J1), next-period lead (J4)
- ``aggregates`` — deterministic list aggregation (A1), null-count
                   validators (A4)
- ``reshape``    — unpivot/melt (R1), schema-harmonized unions (R2)
- ``dedup``      — exact, MinHash-LSH, SimHash, n-gram Jaccard near-dup
- ``similarity`` — brute-force + LSH-bucketed cosine top-k over embeddings
- ``windows``    — top-k per group, sessionization, tumbling windows
"""
