"""Token-granular repeated-span removal: handcrafted semantics, coverage
merging, totality, and oracle parity of the registered query."""

from __future__ import annotations

from delta_lake_optimizations_spark.operators.dedup import remove_repeated_spans
from delta_lake_optimizations_spark.registry import registry

from .conftest import SF_DIR, compare_spark_duckdb

_DEFS = registry()


def _run(spark, docs, k):
    df = spark.createDataFrame(docs, "doc_id int, text string")
    return {
        r["doc_id"]: r
        for r in remove_repeated_spans(df, "doc_id", "text", k=k).collect()
    }


def test_first_occurrence_kept_second_removed(spark):
    # the 3-token span "a b c" repeats; doc 1 keeps it, doc 2 loses it
    rows = _run(spark, [(1, "a b c x"), (2, "y a b c")], k=3)
    assert rows[1]["clean_text"] == "a b c x"
    assert rows[1]["n_removed"] == 0
    assert rows[2]["clean_text"] == "y"
    assert rows[2]["n_kept"] == 1 and rows[2]["n_removed"] == 3


def test_overlapping_hits_merge_to_maximal_span(spark):
    # doc 2 repeats a 5-token passage; with k=3 the three overlapping
    # shingle hits must union into ONE maximal removed span
    rows = _run(spark, [(1, "p q r s t"), (2, "p q r s t z")], k=3)
    assert rows[2]["clean_text"] == "z"
    assert rows[2]["n_removed"] == 5


def test_intra_document_repeat_removed(spark):
    # the duplicate occurrence is inside the SAME document
    rows = _run(spark, [(1, "a b c x a b c")], k=3)
    assert rows[1]["clean_text"] == "a b c x"
    assert rows[1]["n_removed"] == 3


def test_full_duplicate_doc_becomes_empty(spark):
    rows = _run(spark, [(1, "m n o p"), (2, "m n o p")], k=3)
    assert rows[1]["clean_text"] == "m n o p"
    assert rows[2]["clean_text"] == ""
    assert rows[2]["n_kept"] == 0 and rows[2]["n_removed"] == 4


def test_short_docs_and_unique_docs_untouched(spark):
    rows = _run(spark, [(1, "a b"), (2, "u v w x")], k=3)
    assert rows[1]["clean_text"] == "a b" and rows[1]["n_removed"] == 0
    assert rows[2]["clean_text"] == "u v w x"


def test_canonical_is_min_doc_then_position(spark):
    # span appears at position 1 of doc 1 and position 0 of doc 2:
    # doc order wins over position
    rows = _run(spark, [(1, "z a b c"), (2, "a b c z2")], k=3)
    assert rows[1]["clean_text"] == "z a b c"
    assert rows[2]["clean_text"] == "z2"


def test_remove_repeated_spans_oracle_parity(spark, duck):
    qd = _DEFS["dedup_remove_repeated_spans"]
    compare_spark_duckdb(qd.fn(spark, SF_DIR), duck, qd.oracle)


# ---------------------------------------------------------------------------
# Surgical span decontamination (decontam.decontaminate_spans): the
# benchmark's grams are cut from the corpus, not whole documents.
# ---------------------------------------------------------------------------


def _run_decontam(spark, corpus, bench, n):
    from delta_lake_optimizations_spark.operators.decontam import (
        decontaminate_spans,
    )

    c = spark.createDataFrame(corpus, "doc_id int, text string")
    b = spark.createDataFrame(bench, "doc_id int, text string")
    return {
        r["doc_id"]: r
        for r in decontaminate_spans(c, b, n=n).collect()
    }


def test_contaminated_span_cut_rest_survives(spark):
    rows = _run_decontam(
        spark,
        [(1, "intro words the secret answer here tail words")],
        [(100, "padding the secret answer here padding2")],
        n=4,
    )
    # "the secret answer here" (one 4-gram span) is cut; context stays
    assert rows[1]["clean_text"] == "intro words tail words"
    assert rows[1]["n_removed"] == 4


def test_whole_doc_contaminated_surfaces_empty(spark):
    rows = _run_decontam(
        spark, [(1, "a b c d")], [(100, "x a b c d y")], n=4
    )
    assert rows[1]["clean_text"] == "" and rows[1]["n_kept"] == 0


def test_clean_doc_untouched_and_total(spark):
    rows = _run_decontam(
        spark,
        [(1, "p q r s t"), (2, "a b")],
        [(100, "u v w x y z")],
        n=4,
    )
    assert rows[1]["clean_text"] == "p q r s t"
    assert rows[2]["clean_text"] == "a b"  # shorter than n: no grams, kept


def test_overlapping_benchmark_hits_merge(spark):
    # two overlapping contaminated 3-gram starts cover one maximal span
    rows = _run_decontam(
        spark,
        [(1, "z1 m n o p z2")],
        [(100, "m n o"), (101, "n o p")],
        n=3,
    )
    assert rows[1]["clean_text"] == "z1 z2"
    assert rows[1]["n_removed"] == 4


def test_decontam_remove_spans_oracle_parity(spark, duck):
    qd = _DEFS["decontam_remove_spans"]
    compare_spark_duckdb(qd.fn(spark, SF_DIR), duck, qd.oracle)


def test_decontam_null_text_totality(spark):
    """NULL text behaves like '' — the totality contract (review
    finding: without the coalesce, n_removed came back NULL)."""
    from delta_lake_optimizations_spark.operators.decontam import (
        decontaminate_spans,
    )

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    c = spark.createDataFrame([(1, None), (2, "a b c d")], schema)
    b = spark.createDataFrame([(9, "x y z w")], schema)
    rows = {r["doc_id"]: r for r in decontaminate_spans(c, b, n=4).collect()}
    assert rows[1]["n_kept"] is not None and rows[1]["n_removed"] is not None
    assert rows[2]["clean_text"] == "a b c d"


def test_negative_start_uncovers_no_token(spark):
    """``drop_covered_tokens`` clips each span [p, p+k) into the document:
    a negative start covers only its in-range tail and never cancels the
    coverage of another span."""
    from pyspark.sql import functions as F

    from delta_lake_optimizations_spark.operators.dedup import drop_covered_tokens

    df = spark.createDataFrame([(1, "t0 t1 t2 t3 t4 t5")], "doc_id int, text string")

    def clean(starts):
        st = spark.createDataFrame([(1, p) for p in starts], "doc_id int, _p int")
        (r,) = drop_covered_tokens(df, "doc_id", F.split("text", " "), st, k=3).collect()
        return r["clean_text"], r["n_removed"]

    assert clean([2]) == ("t0 t1 t5", 3)
    # [-1, 2) covers t0 t1; it must not un-cover t2..t4 from the start at 2
    assert clean([-1, 2]) == ("t5", 5)
    # [-5, -2) lies wholly before the document and covers nothing
    assert clean([-5, 2]) == ("t0 t1 t5", 3)
