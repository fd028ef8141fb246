"""The Arrow (mapInPandas) simhash kernel must agree byte for byte with
its pure-JVM expression twin."""


def test_simhash_kernel_matches_expression_twin(spark, sf_dir):
    """The mapInPandas simhash kernel and the pure-JVM expression pipeline
    must produce byte-identical signatures (same md5-prefix arithmetic)."""
    from adk_noui_vectordb_spark.operators.dedup import (
        _simhash_signatures_expr,
        simhash_signatures,
    )

    kernel = {r.doc_id: r.simhash for r in simhash_signatures(spark, sf_dir).collect()}
    expr = {
        r.doc_id: r.simhash
        for r in _simhash_signatures_expr(spark, sf_dir).collect()
    }
    assert kernel == expr
    assert len(kernel) > 0
