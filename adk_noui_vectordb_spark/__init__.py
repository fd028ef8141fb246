"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference vector-DB pipeline (GWeale/ADK-noUI-vectorDB).

The reference (see SURVEY.md) is a chunk -> embed -> store -> k-NN-retrieve
pipeline over a document corpus plus rule-based text diagnostics. This package
re-expresses that surface Spark-first (DataFrame/SQL, Catalyst-optimizable),
and extends it with the LLM-data-pipeline operators (dedup, similarity
search, text analysis) the same data model needs at 100 TB scale.
``api.Client``/``api.Collection`` is the ChromaDB-compatible surface.

Layout:
    session.py    -- tuned SparkSession builder
    api/          -- Client/Collection: the ChromaDB-compatible facade
    sources/      -- table registry, corpus scan, upsert sinks, versioned roots
    functions/    -- scalar/array expression helpers (vector math, text)
    operators/    -- the operator inventory from SURVEY.md section 2
    plans/        -- plan-inspection helpers (pushdown / broadcast asserts)
"""

__version__ = "0.1.0"
